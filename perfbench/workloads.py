"""Workloads: inputs from the seed, timed operations and output checks.

Two workloads, each a closed loop (the next operation starts when the
previous one has finished):

* ``dedupe-web``: ``DedupePipeline.run`` configured as
  jobs/dedupe_webpages.py configures it, over the default
  ``make_corpus`` shape (Zipf domains, so the hot domains hit the
  ``max_pairs`` cap), into a fresh work dir; then a crash after
  ``03_compared`` is simulated and a fresh pipeline resumes on the same
  work dir.
* ``incremental``: a base corpus clustered during set-up, then a
  parquet file of new pages lands and ``incremental_cluster_stream`` is
  started (``availableNow``, one file per trigger) to fold it in; then
  a crash before the stream's commit is simulated and the query is
  restarted from its checkpoint, which replays the batch.

The program only reads the generated parquet; ground truth
(``label_true``) is kept in a separate file that only the checks read.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import Counter
from pathlib import Path

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mismo_spark.cluster.cc import connected_components
from mismo_spark.corpus import make_corpus
from mismo_spark.linker.key import KeyLinker
from mismo_spark.pipeline import DedupePipeline
from mismo_spark.session import get_spark
from mismo_spark.streaming.cluster_maint import (
    incremental_cluster_stream,
    read_assignments,
)

import layers
from layers import dir_bytes
from tracing import Tracer, engine_counts

# Load sizes.  Each run pays a JVM start, and the pipeline's per-job
# overhead is ~10 s on 4 cores whatever the input size, so the corpora
# are small enough for a whole run (set-up, measurement, checks) to
# take about a minute.
WEB_ENTITIES = 200
INCR_ENTITIES = 400
INCR_BATCHES = 4  # batch files; a timed cycle lands one, a traced run four
INCR_BATCH_PAGES = 140  # the same for every seed; the rest is the base
TRACE_NEW_ENTITIES = 40  # dedupe-web traced run: new entities streamed in
PREP_REPEATS = 3  # input preparations per untraced run; setup_s takes their median
RECOVERIES = 2  # crash-and-recover repeats per operation
MIN_F1 = 0.99
MAX_FAILED_CYCLES = 3
STREAM_TIMEOUT_S = 120


def job_pipeline(work_dir: Path) -> DedupePipeline:
    """The pipeline exactly as jobs/dedupe_webpages.py builds it from
    its default arguments."""
    return DedupePipeline(
        work_dir=str(work_dir),
        weights=None,
        threshold_odds=10.0,
        max_pairs_per_key=100_000,
        skew_split_pairs=None,
        keep_latest_snapshots=False,
        lsh_band_size=2,
        lsh_n_bands=32,
        seed=42,
        broadcast_records_max_bytes=512 << 20,
    )


def canonical_key(url_col) -> F.Column:
    """The url up to the entity segment (``https://host/doc/<entity>``):
    the stream's blocking key."""
    return F.regexp_extract(url_col, r"^(.*/doc/[0-9]+)/", 1)


def write_batches(df: DataFrame, out: Path) -> dict:
    """Write ``df`` (with a ``batch`` column) as single-file parquet
    batches ``out/b<i>.parquet``; → {"b<i>": rows}."""
    staging = out / "_staging"
    df.repartition(1).write.partitionBy("batch").parquet(str(staging))
    sizes = {f"b{r['batch']}": r["count"] for r in df.groupBy("batch").count().collect()}
    for name in sizes:
        (part,) = (staging / f"batch={name[1:]}").glob("*.parquet")
        part.rename(out / f"{name}.parquet")
    shutil.rmtree(staging)
    (out / "sizes.json").write_text(json.dumps(sizes))
    return sizes


def pair_total(sizes) -> int:
    return sum(n * (n - 1) // 2 for n in sizes)


def assignment_set(df: DataFrame) -> set:
    return {(r["record_id"], r["component"]) for r in df.collect()}


def pairwise_scores(assignment: set, truth: dict) -> dict:
    """Pairwise precision, recall and F1 of (record_id, component)
    pairs against ``truth`` (record_id → entity), computed here rather
    than by the program under test."""
    comp = Counter(c for _, c in assignment)
    label = Counter(truth[r] for r, _ in assignment)
    both = Counter((c, truth[r]) for r, c in assignment)
    tp, pred, true = pair_total(both.values()), pair_total(comp.values()), pair_total(label.values())
    precision = tp / pred if pred else 1.0
    recall = tp / true if true else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {"precision": precision, "recall": recall, "f1": f1, "pred_pairs": pred}


def key_components(rows) -> set:
    """Connected components of the key rule's links, computed here as
    the oracle: every key group is a clique and groups never link, so
    each record's component is the smallest id in its key group."""
    smallest: dict = {}
    for rid, key in rows:
        smallest[key] = min(rid, smallest.get(key, rid))
    return {(rid, smallest[key]) for rid, key in rows}


def p50(xs: list[float]) -> float:
    return statistics.median(xs)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Bench:
    def __init__(self, args, env: dict, work: Path) -> None:
        self.args = args
        self.env = env
        self.work = work
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.counts: dict = {}
        self.info: dict = {}
        self.truth: dict = {}  # record_id → entity, for the checks only

    # -- session ------------------------------------------------------

    def start_session(self) -> None:
        conf = dict(self.env["conf"])
        if self.args.trace:
            (self.work / "eventlog").mkdir(parents=True, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": str(self.work / "eventlog"),
                    "spark.eventLog.compress": "false",
                }
            )
        self.spark = get_spark(
            f"perfbench-{self.args.workload}",
            master=self.env["master"],
            shuffle_partitions=self.env["shuffle_partitions"],
            extra_conf=conf,
        )

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def close(self) -> None:
        """Stop Spark, then the gateway JVM, and wait for it to exit
        (its Python workers exit with it)."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # -- operation accounting -----------------------------------------

    def op(self, name: str, fn, *a, **kw):
        """Run one operation; an exception counts it as failed.
        → (seconds, result), or None when it failed."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn(*a, **kw)
        except Exception as e:  # record it and go on measuring
            self.failed += 1
            log(f"[perfbench] {name} failed: {type(e).__name__}: {e}")
            return None
        dt = time.perf_counter() - t0
        log(f"[perfbench] {name} {dt:.3f}s")
        return dt, out

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        """A failed check counts as one more failed operation."""
        if not ok:
            self.attempted += 1
            self.failed += 1
            log(f"[perfbench] check {name} failed {detail}")

    @staticmethod
    def need(name: str, got):
        if got is None:
            raise RuntimeError(f"{name} failed")
        return got

    # -- run ----------------------------------------------------------

    def run(self) -> dict:
        t0 = time.perf_counter()
        self.start_session()
        session_s = time.perf_counter() - t0
        web = self.args.workload == "dedupe-web"
        prep_times = []
        for i in range(1 if self.args.trace else PREP_REPEATS):
            self.input = self.work / f"input{i}"
            t = time.perf_counter()
            (self.prep_web if web else self.prep_incremental)(self.input)
            prep_times.append(time.perf_counter() - t)
        self.info.update(session_s=session_s, prep_s=prep_times)
        setup_s = session_s + p50(prep_times)
        return self.run_web(setup_s) if web else self.run_incremental(setup_s)

    def result(self, metrics: dict) -> dict:
        """Print the input counts and run details; → the result object,
        correct when no operation or check failed."""
        head = {"workload": self.args.workload, "seed": self.args.seed}
        print("inputs " + json.dumps({**head, **self.counts}), flush=True)
        self.info["failed_frac"] = self.failed / max(self.attempted, 1)
        self.info["env"] = {k: v for k, v in self.env.items() if k != "conf"}
        print("run " + json.dumps(self.info), flush=True)
        return {
            "correct": self.failed == 0,
            "attempted": int(self.attempted),
            "failed": int(self.failed),
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        }

    # -- dedupe-web ---------------------------------------------------

    def prep_web(self, root: Path) -> None:
        corpus = make_corpus(
            self.spark, WEB_ENTITIES, seed=self.args.seed, n_partitions=self.env["cores"]
        ).cache()
        corpus.drop("label_true").write.parquet(str(root / "pages"))
        corpus.select(F.col("url").alias("record_id"), "label_true").write.parquet(
            str(root / "truth")
        )
        self.truth = {r["url"]: r["label_true"] for r in corpus.select("url", "label_true").collect()}
        corpus.unpersist()
        self.counts.update(
            pages=len(self.truth), true_pairs=pair_total(Counter(self.truth.values()).values())
        )

    def pipeline_run(self, wd: Path) -> set:
        """What the shipped job does: run the pipeline on the input
        parquet and write the components."""
        pages = self.spark.read.parquet(str(self.input / "pages"))
        components = job_pipeline(wd).run(self.spark, pages)
        components.write.mode("overwrite").parquet(str(wd / "clusters"))
        return assignment_set(self.spark.read.parquet(str(wd / "clusters")))

    @staticmethod
    def crash_after_compared(wd: Path) -> None:
        """Leave what a crash right after ``03_compared`` leaves: no
        manifest entries or files for ``weights`` and stages 04-06."""
        mpath = wd / "manifest.json"
        manifest = json.loads(mpath.read_text())
        for name in ("weights", "04_scored", "05_matches", "06_components"):
            entry = manifest["stages"].pop(name, None)
            path = Path(entry["path"]) if entry else None
            if path is not None and path.is_dir():
                shutil.rmtree(path)
            elif path is not None and path.exists():
                path.unlink()
        for d in ("cc_rounds", "clusters"):
            shutil.rmtree(wd / d, ignore_errors=True)
        mpath.write_text(json.dumps(manifest))

    def web_reference(self, wd: Path, components: set) -> dict:
        """F1 of the first run's components, and the per-run counts."""
        stages = json.loads((wd / "manifest.json").read_text())["stages"]
        self.counts.update(
            candidate_pairs=stages["02_links"]["rows"],
            matches=stages["05_matches"]["rows"],
        )
        prf = pairwise_scores(components, self.truth)
        self.check("pairwise_f1", prf["f1"] >= MIN_F1, str(prf))
        self.info["prf"] = prf
        return prf

    def run_web(self, setup_s: float) -> dict:
        # no warm-up: the first run is the first in its JVM, as each
        # spark-submit of the shipped job is; it is also the reference
        if self.args.trace:
            return self.trace_web()
        runs, resumes, reference, prf = [], [], None, None
        t_end = time.perf_counter() + self.args.seconds
        cycle = 0
        while not runs or not resumes or time.perf_counter() < t_end:
            if cycle >= MAX_FAILED_CYCLES and not (runs and resumes):
                raise RuntimeError("no pipeline run and resume succeeded")
            wd = self.work / f"run{cycle}"
            cycle += 1
            got = self.op("run", self.pipeline_run, wd)
            if got is None:
                continue
            runs.append(got[0])
            if reference is None:
                reference, prf = got[1], self.web_reference(wd, got[1])
            self.check("run==first run", got[1] == reference)
            for _ in range(RECOVERIES):
                self.crash_after_compared(wd)
                res = self.op("resume", self.pipeline_run, wd)
                if res is not None:
                    resumes.append(res[0])
                    self.check("resume==uninterrupted", res[1] == reference)
            shutil.rmtree(wd, ignore_errors=True)
        self.info.update(setup_s=setup_s, run_s=runs, resume_s=resumes)
        return self.result(
            {
                "setup_s": (setup_s, "s"),
                "op_p50_s": (p50(runs), "s"),
                "resume_p50_s": (p50(resumes), "s"),
                "records_per_s": (self.counts["pages"] / p50(runs), "1/s"),
                "pairwise_f1": (prf["f1"], "ratio"),
                "peak_rss_mb": (self.jvm_peak_rss_mb(), "MB"),
            }
        )

    def trace_web(self) -> dict:
        """A first run (the reference), a second untraced run, the same
        work decomposed into per-layer spans, then new entities
        streamed onto the clustered corpus so that the streaming layers
        are measured too."""
        spark = self.spark
        wd = self.work / "run-first"
        _, reference = self.need("run", self.op("run", self.pipeline_run, wd))
        self.web_reference(wd, reference)
        untraced_s, again = self.need(
            "run", self.op("run", self.pipeline_run, self.work / "run-untraced")
        )
        self.check("run==first run", again == reference)

        tracer = Tracer(spark)
        traced_s, (per_layer, replay) = self.need(
            "staged replay",
            self.op(
                "staged-replay",
                layers.replay_pipeline,
                spark,
                tracer,
                job_pipeline(self.work / "replay"),
                spark.read.parquet(str(self.input / "pages")),
                spark.read.parquet(str(self.input / "truth")),
                self.work / "replay",
            ),
        )
        self.check("replay==pipeline", replay == reference)
        per_layer["trace.overhead_s"] = (traced_s - untraced_s, "s")

        new = (
            make_corpus(spark, WEB_ENTITIES + TRACE_NEW_ENTITIES, seed=self.args.seed)
            .filter(F.col("label_true") >= WEB_ENTITIES)
            .drop("label_true")
            .withColumn("ckey", canonical_key(F.col("url")))
            .withColumn("batch", F.pmod(F.xxhash64("url"), F.lit(2)))
        )
        (self.work / "new-batches").mkdir()
        write_batches(new, self.work / "new-batches")
        pages = spark.read.parquet(str(self.input / "pages"))
        stream = Stream(
            self,
            base=pages.select("url", canonical_key(F.col("url")).alias("ckey")),
            initial=spark.read.parquet(str(wd / "clusters")),
            staged=self.work / "new-batches",
        )
        stream_layers, _ = self.trace_stream(tracer, stream, 2)
        return self.finish_trace(tracer, {**per_layer, **stream_layers})

    # -- incremental --------------------------------------------------

    def prep_incremental(self, root: Path) -> None:
        seed = self.args.seed
        # pages in a seeded random order; the first batches take
        # INCR_BATCH_PAGES each, the base takes the rest
        rank = F.row_number().over(
            Window.orderBy(F.xxhash64("url", F.lit(seed)), "url")
        ) - 1
        batch = F.floor(rank / INCR_BATCH_PAGES).cast("int")
        corpus = (
            make_corpus(
                self.spark, INCR_ENTITIES, seed=seed, n_partitions=self.env["cores"]
            )
            .withColumn("ckey", canonical_key(F.col("url")))
            .withColumn("batch", F.when(batch < INCR_BATCHES, batch).otherwise(-1))
            .cache()
        )
        pages = corpus.drop("label_true")
        pages.filter("batch = -1").drop("batch").write.parquet(str(root / "base"))
        corpus.select(F.col("url").alias("record_id"), "label_true").write.parquet(
            str(root / "truth")
        )
        (root / "batches").mkdir()
        sizes = write_batches(pages.filter("batch >= 0"), root / "batches")
        self.truth = {r["url"]: r["label_true"] for r in corpus.select("url", "label_true").collect()}
        corpus.unpersist()
        self.counts.update(
            base_pages=len(self.truth) - sum(sizes.values()),
            batch_pages=[sizes[f"b{i}"] for i in range(INCR_BATCHES)],
            true_pairs=pair_total(Counter(self.truth.values()).values()),
        )

    def cluster_base(self) -> DataFrame:
        """Set-up: cluster the base corpus on the stream's key rule, the
        state the stream is seeded with."""
        keyed = self.spark.read.parquet(str(self.input / "base")).select(
            F.col("url").alias("record_id"), "ckey"
        )
        path = str(self.work / "base-clusters")
        connected_components(
            KeyLinker(["ckey"], task="dedupe")(keyed).links, keyed.select("record_id")
        ).write.parquet(path)
        return self.spark.read.parquet(path)

    def batch_cycle(self, stream: "Stream", batches: list, replays: list) -> None:
        """Land one batch, then crash before the commit and replay it."""
        got = self.op("batch", stream.add_batch)
        if got is None:
            return
        batches.append(got)
        before = assignment_set(read_assignments(self.spark, str(stream.state)))
        for _ in range(RECOVERIES):
            stream.crash_before_commit()
            res = self.op("replay", stream.replay)
            if res is not None:
                replays.append(res[0])
                after = assignment_set(read_assignments(self.spark, str(stream.state)))
                self.check("replay==uninterrupted", after == before)

    def run_incremental(self, setup_s: float) -> dict:
        # set-up ends with the base clustering; no warm-up: the first
        # batch is the first in its JVM, as with a scheduled
        # availableNow job
        t = time.perf_counter()
        stream = Stream(
            self,
            base=self.spark.read.parquet(str(self.input / "base")),
            initial=self.cluster_base(),
            staged=self.input / "batches",
        )
        setup_s += time.perf_counter() - t
        if self.args.trace:
            return self.trace_incremental(stream)
        batches, replays = [], []
        t_end = time.perf_counter() + self.args.seconds
        while stream.remaining() and (
            not batches or not replays or time.perf_counter() < t_end
        ):
            self.batch_cycle(stream, batches, replays)
        if not batches or not replays:
            raise RuntimeError("no successful batch and replay")
        prf = self.check_stream(stream)
        self.info.update(setup_s=setup_s, batch_s=[b[0] for b in batches], replay_s=replays)
        return self.result(
            {
                "setup_s": (setup_s, "s"),
                "op_p50_s": (p50([b[0] for b in batches]), "s"),
                "resume_p50_s": (p50(replays), "s"),
                "records_per_s": (
                    sum(b[1] for b in batches) / sum(b[0] for b in batches),
                    "1/s",
                ),
                "pairwise_f1": (prf["f1"], "ratio"),
                "peak_rss_mb": (self.jvm_peak_rss_mb(), "MB"),
            }
        )

    def check_stream(self, stream: "Stream") -> dict:
        """The live assignment must equal connected components over the
        key links of base ∪ landed batches; → its pairwise P/R/F1."""
        rows = [
            (r["url"], r["ckey"])
            for r in self.spark.read.parquet(str(self.input / "base"))
            .select("url", "ckey")
            .unionByName(self.spark.read.parquet(str(stream.inbox)).select("url", "ckey"))
            .collect()
        ]
        got = assignment_set(read_assignments(self.spark, str(stream.state)))
        self.check("stream==connected_components", got == key_components(rows))
        prf = pairwise_scores(got, self.truth)
        self.check("pairwise_f1", prf["f1"] >= MIN_F1, str(prf))
        self.counts.update(
            landed_batches=stream.landed,
            candidate_pairs=pair_total(Counter(k for _, k in rows).values()),
            matches=prf["pred_pairs"],
        )
        self.info["prf"] = prf
        return prf

    def trace_incremental(self, stream: "Stream") -> dict:
        """A first batch, a second untraced one, two traced batches, the
        check, and then the batch layers decomposed over the base corpus
        the stream was seeded from."""
        spark = self.spark
        self.need("batch", self.op("batch", stream.add_batch))
        untraced_s, _ = self.need("batch", self.op("batch", stream.add_batch))
        tracer = Tracer(spark)
        per_layer, traced_s = self.trace_stream(tracer, stream, 2)
        per_layer["trace.overhead_s"] = (traced_s - untraced_s, "s")
        self.check_stream(stream)
        wd = self.work / "replay"
        base_layers, _ = self.need(
            "staged replay",
            self.op(
                "staged-replay",
                layers.replay_pipeline,
                spark,
                tracer,
                job_pipeline(wd),
                spark.read.parquet(str(self.input / "base")),
                spark.read.parquet(str(self.input / "truth")),
                wd,
            ),
        )[1]
        return self.finish_trace(tracer, {**base_layers, **per_layer})

    # -- traced streaming ---------------------------------------------

    def trace_stream(self, tracer: Tracer, stream: "Stream", n: int):
        """→ (streaming per-layer metrics, median traced batch seconds)."""
        add, engine, wall = [], [], []
        for _ in range(n):
            with tracer.span("incr.batch", parent="stream"):
                secs, _ = self.need("batch", self.op("batch", stream.add_batch))
            wall.append(secs)
            for p in stream.last_progress:
                d = p.durationMs
                if "addBatch" in d:
                    add.append(d["addBatch"] / 1000.0)
                    engine.append((d["triggerExecution"] - d["addBatch"]) / 1000.0)
        records = read_assignments(self.spark, str(stream.state)).count()
        return (
            {
                "incr.add_batch_p50_s": (p50(add), "s"),
                "incr.engine_p50_s": (p50(engine), "s"),
                "incr.state_bytes_per_record": (dir_bytes(stream.state) / records, "bytes"),
            },
            p50(wall),
        )

    def finish_trace(self, tracer: Tracer, per_layer: dict) -> dict:
        """Stop Spark so that its event log is complete, add the engine
        counts, and keep the spans beside the work dir."""
        tracer.write(
            self.work.parent / "spans" / f"{self.args.workload}-seed{self.args.seed}.json"
        )
        self.spark.stop()
        self.spark = None
        per_layer.update(
            engine_counts(self.work / "eventlog", tracer.spans, self.env["cores"])
        )
        return self.result(per_layer)


class Stream:
    """The incremental_cluster_stream deployment the benchmark drives:
    batch files land in an inbox one at a time, and each landing starts
    the query (``availableNow``) from its checkpoint."""

    def __init__(self, bench: Bench, *, base, initial, staged: Path) -> None:
        self.spark = bench.spark
        root = bench.work / "stream"
        self.inbox = root / "inbox"
        self.state = root / "state"
        self.ckpt = root / "checkpoint"
        self.inbox.mkdir(parents=True)
        self.base = base
        self.initial = initial
        self.staged = sorted(staged.glob("b*.parquet"), key=lambda p: int(p.stem[1:]))
        self.sizes = json.loads((staged / "sizes.json").read_text())
        self.schema = self.spark.read.parquet(str(self.staged[0])).schema
        self.landed = 0
        self.last_progress: list = []

    def remaining(self) -> int:
        return len(self.staged)

    def _start(self) -> None:
        q = incremental_cluster_stream(
            self.spark,
            input_dir=str(self.inbox),
            key_columns=["ckey"],
            state_dir=str(self.state),
            checkpoint_dir=str(self.ckpt),
            corpus=self.base,
            initial_assignments=self.initial,
            id_col="url",
            schema=self.schema,
            max_files_per_trigger=1,
        )
        if not q.awaitTermination(STREAM_TIMEOUT_S):
            q.stop()
            raise TimeoutError("stream query did not finish")
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        self.last_progress = q.recentProgress

    def add_batch(self) -> int:
        """Land the next batch file and process it; → pages in it."""
        path = self.staged.pop(0)
        os.replace(path, self.inbox / path.name)
        self.landed += 1
        self._start()
        return self.sizes[path.stem]

    def crash_before_commit(self) -> None:
        """Leave what a crash after the state write but before the
        state and stream commits leaves: the last batch's offsets are
        logged but not committed, and LATEST names the version before."""
        commits = self.ckpt / "commits"
        last = max(int(p.name) for p in commits.iterdir() if p.name.isdigit())
        (commits / str(last)).unlink()
        (commits / f".{last}.crc").unlink(missing_ok=True)
        versions = sorted(int(p.name[1:]) for p in (self.state / "assignments").iterdir())
        if versions[-1] != last:
            raise RuntimeError(f"state versions {versions} do not end at batch {last}")
        for sub in ("assignments", "records"):
            shutil.rmtree(self.state / sub / f"v{last}")
        if len(versions) > 1:
            (self.state / "LATEST").write_text(f"v{versions[-2]}")
        else:
            (self.state / "LATEST").unlink()

    def replay(self) -> None:
        self._start()
