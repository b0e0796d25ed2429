"""The four benchmark workloads.

Each workload is a closed loop of one job at a time on one driver: the
next job starts when the previous one returns. ``prepare`` makes the
seeded inputs (outside any timed window), ``run_once`` runs one job and
returns its wall time and output, ``check`` compares that output with the
reference.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from collections import Counter
from dataclasses import dataclass, field

from inputs import (
    DEDUP_SOURCES,
    CorpusSpec,
    TranscriptSpec,
    corpus_dir,
    ensure_corpus,
    ensure_transcripts,
    lines_digest,
    make_ruleset,
    read_json,
    source_digest,
    transcript_dir,
    transcript_reference,
    union_find_survivors,
    write_json_atomic,
)

TEXT_SINKS = ("fast", "eve", "syslog")


@dataclass
class Job:
    """One job's wall time and what it produced."""

    wall_s: float
    output: dict
    microbatch_s: list[float] = field(default_factory=list)  # stream only


@dataclass
class Inputs:
    path: str  # input table or corpus directory
    items: int = 0  # turns or documents
    reference: dict | None = None
    props: dict = field(default_factory=dict)
    meta: dict = field(default_factory=dict)


class Checks:
    """Counts checked jobs and collects their differences from the reference."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def run(self, wl: Workload, spark, inp: Inputs) -> Job | None:
        """Run one job and check it; None if it raised or differs."""
        try:
            job = wl.run_once(spark, inp)
        except Exception as e:  # noqa: BLE001 — a failed job is counted, not fatal
            self.attempted += 1
            self.failed += 1
            self.problems.append(f"job raised {type(e).__name__}: {str(e)[:300]}")
            return None
        return job if self.verify(wl, job, inp) else None

    def verify(self, wl: Workload, job: Job, inp: Inputs) -> bool:
        self.attempted += 1
        diffs = wl.check(job, inp)
        if diffs:
            self.failed += 1
            self.problems.extend(diffs[:5])
        return not diffs


class Workload:
    name = ""
    item = "turns"  # what items_per_s counts
    min_jobs = 3  # timed jobs per run at least, so one slow job does not move the median

    def __init__(self, root: str, work: str) -> None:
        self.root = root
        self.work = work

    def prepare(self, seed: int) -> Inputs:
        """The seeded inputs (cached), made before the JVM launches."""
        raise NotImplementedError

    def reference_call(self, inp: Inputs):
        """(fn, args) making a reference that is not cached yet in a helper
        process beside the warm-up jobs, or None."""
        return None

    def accept_reference(self, inp: Inputs, ref: dict) -> None:
        pass

    def reference_with_spark(self, spark, inp: Inputs) -> None:
        """The reference of a workload that needs the session to make it."""

    def warm_up(self, spark, inp: Inputs) -> None:
        """One untimed, unchecked job: the first use of the workload's code
        path costs several seconds more than later jobs (JIT, codegen,
        Python worker imports)."""
        self.run_once(spark, inp)

    def run_once(self, spark, inp: Inputs) -> Job:
        raise NotImplementedError

    def check(self, job: Job, inp: Inputs) -> list[str]:
        """Differences between the job's output and the reference."""
        raise NotImplementedError


# --------------------------------------------------------------------------
# transcript workloads
# --------------------------------------------------------------------------


def _count_diffs(got: dict, want: dict, what: str) -> list[str]:
    got = {str(k): int(v) for k, v in got.items() if v}
    want = {str(k): int(v) for k, v in want.items() if v}
    return [
        f"{what} {k}: got {got.get(k, 0)}, want {want.get(k, 0)}"
        for k in sorted(set(got) | set(want))
        if got.get(k, 0) != want.get(k, 0)
    ]


class TranscriptWorkload(Workload):
    spec: TranscriptSpec

    def prepare(self, seed: int) -> Inputs:
        path = transcript_dir(self.work, self.root, self.spec, seed)
        os.makedirs(path, exist_ok=True)
        ensure_transcripts(path, self.spec, seed)
        inp = Inputs(path=path)
        if os.path.exists(os.path.join(path, f"ref-{self.spec.ruleset}.json")):
            self.accept_reference(inp, transcript_reference(path, self.spec.ruleset))
        return inp

    def reference_call(self, inp: Inputs):
        if inp.reference is not None:
            return None
        return transcript_reference, (inp.path, self.spec.ruleset)

    def accept_reference(self, inp: Inputs, ref: dict) -> None:
        inp.reference = ref
        inp.props.update(ref["props"])
        inp.items = ref["props"]["turns"]

    def ruleset(self):
        return make_ruleset(self.spec.ruleset)


class BatchWorkload(TranscriptWorkload):
    write_sinks = False

    def run_once(self, spark, inp: Inputs) -> Job:
        from sagan_spark.engine import pipeline

        rs = self.ruleset()
        out_dir = os.path.join(self.work, "out", self.name) if self.write_sinks else None
        t0 = time.perf_counter()
        res = pipeline.run(spark, os.path.join(inp.path, "tx"), rs, out_dir=out_dir)
        wall = time.perf_counter() - t0
        res.unpersist()
        return Job(wall, {"sink_counts": res.sink_counts, "sid_counts": res.sid_counts,
                          "out_dir": out_dir})

    def check(self, job: Job, inp: Inputs) -> list[str]:
        ref = inp.reference
        diffs = _count_diffs(job.output["sink_counts"], ref["sink_counts"], "sink")
        diffs += _count_diffs(job.output["sid_counts"], ref["sid_counts"], "sid")
        out_dir = job.output["out_dir"]
        if out_dir is not None:
            diffs += check_sink_files(out_dir, ref)
        return diffs


def check_sink_files(out_dir: str, ref: dict) -> list[str]:
    """Written text sinks must hold exactly the oracle's lines; the
    unified2 parquet sink must hold the oracle's row count."""
    import pyarrow.parquet as pq

    diffs = []
    for sink in TEXT_SINKS:
        lines: list[str] = []
        for fn in sorted(glob.glob(os.path.join(out_dir, sink, "part-*"))):
            with open(fn, encoding="utf-8") as f:
                data = f.read()
            if data:
                lines.extend(data[:-1].split("\n") if data.endswith("\n") else data.split("\n"))
        want = ref["sink_lines"][sink]
        if ref["sink_counts"].get(sink, 0) == 0:
            want = lines_digest([])
        got = lines_digest(lines)
        if got != want:
            diffs.append(f"sink {sink} lines: got {got[0]} ({got[1][:8]}), want {want[0]} ({want[1][:8]})")
    u2 = os.path.join(out_dir, "unified2")
    n = sum(pq.ParquetFile(p).metadata.num_rows for p in glob.glob(os.path.join(u2, "*.parquet")))
    if n != ref["sink_counts"].get("unified2", 0):
        diffs.append(f"sink unified2 rows: got {n}, want {ref['sink_counts'].get('unified2', 0)}")
    return diffs


class BatchSparseWide(BatchWorkload):
    """The production SIEM profile: 58 rules, ~1-2% of turns alert, counts
    only. The JVM predicates of the match layer are the largest layer, but
    at this size per-job fixed costs downstream still hold about a third
    of the job wall (see perfbench/README.md, Sizes)."""

    name = "batch_sparse_wide"
    spec = TranscriptSpec(turns=160_000, plant_scale=0.02, ruleset="bulk_production")


class BatchDenseSinks(BatchWorkload):
    """Canonical rules at the full plant rate: about half the turns cross
    Arrow into the Python matcher; conv_id exchange, replay, sink writes."""

    name = "batch_dense_sinks"
    spec = TranscriptSpec(turns=60_000, plant_scale=1.0, ruleset="canonical")
    write_sinks = True


class StreamDense(TranscriptWorkload):
    """A run_stream drain in fixed micro-batches: the single
    applyInPandasWithState, its state store and the per-batch floor."""

    name = "stream_dense"
    spec = TranscriptSpec(turns=30_000, plant_scale=1.0, ruleset="canonical", files=6)
    files_per_trigger = 2  # 6 files → 3 micro-batches
    min_jobs = 1  # one drain already holds several micro-batches

    def warm_up(self, spark, inp: Inputs) -> None:
        """A one-file, one-micro-batch drain: the stream's first use (the
        stateful operator's workers, the foreachBatch callback server)
        costs several seconds whatever the batch size."""
        src = os.path.join(inp.path, "tx")
        warm = os.path.join(self.work, "stream", "warm-input")
        shutil.rmtree(warm, ignore_errors=True)
        os.makedirs(warm)
        first = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))[0]
        shutil.copy(os.path.join(src, first), warm)
        self._drain(spark, warm, "warm-up")

    def _drain(self, spark, src: str, tag: str):
        from sagan_spark.streaming import pipeline as stream_pipeline

        d = os.path.join(self.work, "stream", tag)
        shutil.rmtree(d, ignore_errors=True)
        t0 = time.perf_counter()
        q = stream_pipeline.run_stream(
            spark, src, os.path.join(d, "out"), os.path.join(d, "ck"),
            ruleset=self.ruleset(), max_files_per_trigger=self.files_per_trigger, drain=True,
        )
        try:
            q.awaitTermination()
        finally:
            if q.isActive:
                q.stop()
        wall = time.perf_counter() - t0
        return q, wall, os.path.join(d, "out")

    def run_once(self, spark, inp: Inputs) -> Job:
        q, wall, out = self._drain(spark, os.path.join(inp.path, "tx"), "timed")
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        err = q.exception()
        return Job(
            wall,
            {"out_dir": out, "progress": progress,
             "error": str(err) if err is not None else None},
            microbatch_s=[p["durationMs"]["triggerExecution"] / 1000.0 for p in progress],
        )

    def check(self, job: Job, inp: Inputs) -> list[str]:
        import pyarrow.parquet as pq

        if job.output["error"]:
            return [f"stream failed: {job.output['error']}"]
        sink_counts: Counter = Counter()
        sid_counts: Counter = Counter()
        for sink in ("fast", "eve", "syslog", "unified2"):
            for fn in glob.glob(os.path.join(job.output["out_dir"], sink, "batch=*", "*.parquet")):
                sids = pq.read_table(fn, columns=["sid"]).column("sid").to_pylist()
                sink_counts[sink] += len(sids)
                sid_counts.update(sids)
        ref = inp.reference
        return (_count_diffs(sink_counts, ref["sink_counts"], "sink")
                + _count_diffs(sid_counts, ref["sid_counts"], "sid"))


def stream_twin(wl: TranscriptWorkload) -> StreamDense:
    """A stream over ``wl``'s input and rule set; its drain must produce the
    batch reference (stream ≡ batch)."""
    twin = StreamDense(wl.root, wl.work)
    twin.spec = wl.spec
    return twin


def sinks_twin(wl: BatchWorkload) -> BatchDenseSinks:
    """``wl``'s job with its four sinks written (and checked line by line)."""
    twin = BatchDenseSinks(wl.root, wl.work)
    twin.name, twin.spec = f"{wl.name}-sinks", wl.spec
    return twin


# --------------------------------------------------------------------------
# dedup workload
# --------------------------------------------------------------------------


def dedup_chain(spark, docs_path: str):
    """The dedup chain's DataFrames: (docs, signatures, candidate pairs)."""
    from sagan_spark.ops import dedup as D

    d = spark.read.parquet(docs_path)
    sig = D.minhash_signature(D.shingles(d), num_hashes=8)
    pairs = D.lsh_candidate_pairs(sig, bands=4, rows_per_band=2)
    return d, sig, pairs


def band_buckets(sigs, bands: int = 4, rows_per_band: int = 2) -> Counter:
    """Member count of every (band, band hash) LSH bucket, from collected
    signatures — the same banding ``lsh_candidate_pairs`` applies."""
    sizes: Counter = Counter()
    for sig in sigs:
        for b in range(bands):
            sizes[(b, "|".join(sig[b * rows_per_band:(b + 1) * rows_per_band]))] += 1
    return sizes


class DedupCorpus(Workload):
    """The dedup chain over a seeded near-duplicate corpus with known,
    Zipf-sized groups."""

    name = "dedup_corpus"
    item = "docs"
    spec = CorpusSpec(n_groups=3000, n_singletons=12000)

    def prepare(self, seed: int) -> Inputs:
        path = corpus_dir(self.work, self.spec, seed)
        os.makedirs(path, exist_ok=True)
        meta = ensure_corpus(path, self.spec, seed)
        return Inputs(path=os.path.join(path, "docs"), items=meta["props"]["docs"],
                      props=dict(meta["props"]), meta=meta)

    def reference_with_spark(self, spark, inp: Inputs) -> None:
        """Collect the candidate pairs once and derive the survivors a
        union-find over them keeps; every job's survivors must equal it.
        Cached beside the corpus, keyed by the dedup module's source."""
        import pyarrow.parquet as pq

        digest = source_digest(self.root, DEDUP_SOURCES)
        cache = os.path.join(os.path.dirname(inp.path), f"ref-{digest}.json")
        ref = read_json(cache)
        if ref is None:
            _d, sig, _pairs = dedup_chain(spark, inp.path)
            sig = sig.persist()
            try:
                from sagan_spark.ops import dedup as D

                got = [(r["a"], r["b"]) for r in
                       D.lsh_candidate_pairs(sig, bands=4, rows_per_band=2).collect()]
                buckets = band_buckets(sig.toArrow().column("sig").to_pylist())
            finally:
                sig.unpersist()
            ids = pq.read_table(inp.path, columns=["doc_id"]).column("doc_id").to_pylist()
            group_of = inp.meta["group_of"]
            same = sum(1 for a, b in got if group_of[str(a)] == group_of[str(b)])
            ref = {
                "survivors": sorted(union_find_survivors(ids, got)),
                "props": {
                    "candidate_pairs": len(got),
                    "pair_precision": same / max(len(got), 1),
                    "largest_lsh_bucket": max(buckets.values()) if buckets else 0,
                },
            }
            write_json_atomic(cache, ref)
        inp.reference = ref
        inp.props.update(ref["props"])

    def run_once(self, spark, inp: Inputs) -> Job:
        from sagan_spark.ops import dedup as D

        t0 = time.perf_counter()
        d, _sig, pairs = dedup_chain(spark, inp.path)
        survivors = D.dedup_survivors(d, D.dedup_clusters(pairs)).select("doc_id")
        ids = survivors.toArrow().column("doc_id").to_pylist()
        wall = time.perf_counter() - t0
        return Job(wall, {"survivors": ids})

    def check(self, job: Job, inp: Inputs) -> list[str]:
        got, want = sorted(job.output["survivors"]), inp.reference["survivors"]
        if got == want:
            return []
        return [f"survivors: got {len(got)}, want {len(want)} "
                f"({len(set(got) ^ set(want))} ids differ)"]


WORKLOADS = {w.name: w for w in (BatchSparseWide, BatchDenseSinks, StreamDense, DedupCorpus)}
