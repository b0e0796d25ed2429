"""Seeded benchmark inputs, their reference results and traffic properties.

Every input is a pure function of (seed, size spec). It is generated once
into the work directory and reused by later runs with the same seed; a
marker or metadata file written last marks a complete entry, so an
interrupted generation is redone rather than read half-written.

Two kinds of input:

- transcript tables from ``sagan_spark.datagen.transcripts`` (the batch and
  stream workloads), whose reference is the pure-Python oracle
  ``sagan_spark.oracle.pandas_engine.run_oracle``;
- a near-duplicate document corpus with known duplicate groups (the dedup
  workload), generated here.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from collections import Counter
from dataclasses import asdict, dataclass

import numpy as np

#: Sources whose change invalidates a cached transcript table or oracle
#: reference, and the one whose change invalidates a dedup reference.
TRANSCRIPT_SOURCES = (
    "sagan_spark/datagen/transcripts.py",
    "sagan_spark/oracle/pandas_engine.py",
    "sagan_spark/rules/bulk.py",
    "sagan_spark/rules/canonical.py",
    "sagan_spark/rules/model.py",
    "sagan_spark/rules/eval.py",
)
DEDUP_SOURCES = ("sagan_spark/ops/dedup.py",)

#: A conversation of at least this many turns is "hot": the datagen's
#: heavy-tail class (5000..hot_cap turns), which lands on one replay task.
HOT_CONV_TURNS = 5000


def source_digest(root: str, sources: tuple[str, ...]) -> str:
    h = hashlib.sha256()
    for rel in sources:
        with open(os.path.join(root, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def write_json_atomic(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
    os.replace(tmp, path)


def read_json(path: str):
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


# --------------------------------------------------------------------------
# transcripts
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class TranscriptSpec:
    turns: int  # target size: the first conversations reaching this many turns
    plant_scale: float
    ruleset: str  # "bulk_production" | "canonical"
    hot_cap: int = 8000
    files: int = 8  # parquet files (micro-batch granularity for the stream)


def make_ruleset(name: str):
    if name == "bulk_production":
        from sagan_spark.rules.bulk import bulk_ruleset

        return bulk_ruleset(production=True)
    if name == "canonical":
        from sagan_spark.rules.canonical import CANONICAL

        return CANONICAL
    raise ValueError(f"unknown rule set {name!r}")


def transcript_dir(work: str, root: str, spec: TranscriptSpec, seed: int) -> str:
    key = json.dumps([asdict(spec), seed, source_digest(root, TRANSCRIPT_SOURCES)], sort_keys=True)
    tag = hashlib.sha256(key.encode()).hexdigest()[:10]
    return os.path.join(work, "inputs", f"tx-s{seed}-ps{spec.plant_scale}-{tag}")


def conversations_for(spec: TranscriptSpec, seed: int) -> int:
    """The number of leading conversations whose turns first reach
    ``spec.turns``. Conversation sizes are heavy-tailed, so a fixed
    conversation count would let the table size swing with the seed."""
    from sagan_spark.datagen.transcripts import gen_chunk

    total, lo, step = 0, 0, 250
    while True:
        sizes = gen_chunk(lo, lo + step, seed, spec.hot_cap, spec.plant_scale)
        counts = sizes.groupby("conv_id", sort=True).size().to_numpy()
        cum = total + np.cumsum(counts)
        hit = np.nonzero(cum >= spec.turns)[0]
        if len(hit):
            return lo + int(hit[0]) + 1
        total, lo = int(cum[-1]), lo + step


def ensure_transcripts(path: str, spec: TranscriptSpec, seed: int) -> str:
    """Generate the transcript table under ``path/tx`` unless present."""
    from sagan_spark.datagen.transcripts import write_transcripts

    tx = os.path.join(path, "tx")
    marker = os.path.join(path, "tx.done")
    if not os.path.exists(marker):
        shutil.rmtree(tx, ignore_errors=True)
        n_convs = conversations_for(spec, seed)
        write_transcripts(
            tx, n_convs=n_convs, seed=seed, hot_cap=spec.hot_cap,
            chunk_convs=-(-n_convs // spec.files), plant_scale=spec.plant_scale,
        )
        with open(marker, "w") as f:
            f.write("ok\n")
    return tx


def lines_digest(lines) -> list:
    """(count, sha256) of a multiset of sink lines, order-insensitive.
    Lines are re-split on newlines first, so a record whose text holds a
    newline digests the same as the text file a sink writer produced."""
    parts = "\n".join(lines).split("\n") if lines else []
    h = hashlib.sha256()
    for line in sorted(parts):
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return [len(parts), h.hexdigest()]


def transcript_reference(path: str, ruleset_name: str) -> dict:
    """Oracle counts and sink-line digests for the table at ``path/tx``,
    plus the input's traffic properties. Cached in ``path``; made in a
    helper process beside the untimed warm-up jobs."""
    out = os.path.join(path, f"ref-{ruleset_name}.json")
    cached = read_json(out)
    if cached is not None:
        return cached
    import pandas as pd

    from sagan_spark.oracle.pandas_engine import run_oracle

    df = pd.read_parquet(os.path.join(path, "tx"))
    res = run_oracle(df, make_ruleset(ruleset_name))
    sizes = df.groupby("conv_id").size()
    turns = int(len(df))
    alerts = int(sum(res.sink_counts.values()))
    ref = {
        "sink_counts": {k: int(v) for k, v in res.sink_counts.items() if v},
        "sid_counts": {str(k): int(v) for k, v in res.sid_counts.items() if v},
        "sink_lines": {
            s: lines_digest(res.lines(s)) for s in ("fast", "eve", "syslog")
        },
        "props": {
            "turns": turns,
            "convs": int(len(sizes)),
            "hot_convs": int((sizes >= HOT_CONV_TURNS).sum()),
            "hot_turn_share": float(sizes[sizes >= HOT_CONV_TURNS].sum() / max(turns, 1)),
            "max_conv_turns": int(sizes.max()) if len(sizes) else 0,
            "alerts": alerts,
            "alert_rate": alerts / max(turns, 1),
        },
    }
    write_json_atomic(out, ref)
    return ref


# --------------------------------------------------------------------------
# near-duplicate corpus
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class CorpusSpec:
    n_groups: int  # duplicate groups (each ≥ 2 documents)
    n_singletons: int  # documents with no duplicate
    vocab: int = 4000
    min_words: int = 24
    max_words: int = 64
    edits: int = 2  # word substitutions per non-base group member
    zipf_a: float = 2.2  # group-size skew: size = 1 + zipf(a), capped
    max_group: int = 40


def _word_list(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, size=n)
    words = {"".join(rng.choice(letters, size=k)) for k in lens}
    while len(words) < n:
        words.add("".join(rng.choice(letters, size=int(rng.integers(3, 10)))))
    return np.array(sorted(words)[:n], dtype=object)


def generate_corpus(spec: CorpusSpec, seed: int):
    """(doc_id, text, group) arrays. Group members are a base document with
    ``edits`` random word substitutions each; doc ids are shuffled so group
    members are not adjacent. Lowercase ASCII words, single spaces."""
    rng = np.random.default_rng([seed, 0xD3D])
    words = _word_list(rng, spec.vocab)
    # Zipf-like word frequencies: shared common words make bucket sizes
    # depend on the corpus, not just on the planted groups
    p = 1.0 / np.arange(1, spec.vocab + 1) ** 0.8
    p /= p.sum()
    sizes = np.minimum(1 + rng.zipf(spec.zipf_a, size=spec.n_groups), spec.max_group)
    texts: list[str] = []
    groups: list[int] = []
    for g, size in enumerate(sizes):
        n = int(rng.integers(spec.min_words, spec.max_words + 1))
        base = rng.choice(words, size=n, p=p)
        texts.append(" ".join(base))
        groups.append(g)
        for _ in range(int(size) - 1):
            doc = base.copy()
            pos = rng.integers(0, n, size=spec.edits)
            doc[pos] = rng.choice(words, size=spec.edits, p=p)
            texts.append(" ".join(doc))
            groups.append(g)
    for i in range(spec.n_singletons):
        n = int(rng.integers(spec.min_words, spec.max_words + 1))
        texts.append(" ".join(rng.choice(words, size=n, p=p)))
        groups.append(spec.n_groups + i)
    n_docs = len(texts)
    doc_id = rng.permutation(n_docs).astype(np.int64) + 1
    return doc_id, np.array(texts, dtype=object), np.array(groups, dtype=np.int64)


def corpus_dir(work: str, spec: CorpusSpec, seed: int) -> str:
    key = json.dumps([asdict(spec), seed], sort_keys=True)
    tag = hashlib.sha256(key.encode()).hexdigest()[:10]
    return os.path.join(work, "inputs", f"corpus-s{seed}-{tag}")


def ensure_corpus(path: str, spec: CorpusSpec, seed: int) -> dict:
    """Write ``path/docs`` (doc_id, text) parquet plus the known groups;
    return the metadata (group of each doc id, corpus properties)."""
    meta_path = os.path.join(path, "meta.json")
    meta = read_json(meta_path)
    if meta is not None:
        return meta
    import pyarrow as pa
    import pyarrow.parquet as pq

    doc_id, text, group = generate_corpus(spec, seed)
    docs = os.path.join(path, "docs")
    shutil.rmtree(docs, ignore_errors=True)
    os.makedirs(docs)
    order = np.argsort(doc_id)
    tbl = pa.table({"doc_id": doc_id[order], "text": text[order].tolist()})
    n_files = 4
    step = -(-len(order) // n_files)
    for i in range(n_files):
        pq.write_table(tbl.slice(i * step, step), os.path.join(docs, f"part-{i:05d}.parquet"))
    group_sizes = Counter(group.tolist())
    meta = {
        "group_of": {str(int(d)): int(g) for d, g in zip(doc_id, group)},
        "props": {
            "docs": int(len(doc_id)),
            "groups": int(spec.n_groups),
            "largest_group": int(max(group_sizes.values())),
            # share of documents a perfect dedup removes
            "duplicate_share": float((len(doc_id) - len(group_sizes)) / len(doc_id)),
        },
    }
    write_json_atomic(meta_path, meta)
    return meta


def union_find_survivors(doc_ids, pairs) -> set:
    """Documents kept by min-id-per-component dedup over ``pairs``."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {d for d in doc_ids if find(d) == d}
