#!/usr/bin/env python3
"""One benchmark for the engine: index build and batch serving over one
seeded synthetic crawl.

    python3 perfbench/run.py --workload build --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --write-spec        # regenerate BENCHMARK.json

Run from the repository root. Each run starts its own local Spark session
sized to the host and sets up (reported as ``setup_s``). It then repeats
the workload's operation until ``--seconds`` have passed, always finishing
the operation in flight, and checks every operation's output. The last line
of stdout is one JSON object, ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics (read from Spark's event log and from spans around the calls made
here) with ``--trace 1``.

Scratch files live in ``.perfbench/`` at the repository root; the serving
index is cached there across runs of the same engine code.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench")

import spec  # noqa: E402  (perfbench/ is sys.path[0] when run as a script)

K = 5
VOLUME_BATCH = 2000
CLAIM_POOL = 4000
#: claims whose id is a multiple of this are checked against the oracle
CHECK_EVERY = 8
#: serve runs one untimed batch before the loop: it starts the Python
#: workers and compiles the plans


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=[w["name"] for w in spec.WORKLOADS])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec.RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--write-spec", action="store_true", help="write BENCHMARK.json and exit")
    args = ap.parse_args(argv)
    if not args.write_spec and not args.workload:
        ap.error("--workload is required")
    return args


def start_spark(app: str, work: str, event_dir: str | None):
    from defactonlp_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the engine from the checkout; temp files stay in it
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    cores = len(os.sched_getaffinity(0))
    mem_mb = min(2048, os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (4 << 20))
    extra = {
        "spark.driver.memory": f"{mem_mb}m",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.python.worker.faulthandler.enabled": "true",
        "spark.sql.execution.pyspark.udf.faulthandler.enabled": "true",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        extra["spark.eventLog.enabled"] = "true"
        extra["spark.eventLog.dir"] = "file://" + event_dir
        extra["spark.eventLog.rolling.enabled"] = "false"
        extra["spark.eventLog.compress"] = "false"
    return get_spark(app, cores=cores, extra=extra)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def median(xs):
    return float(statistics.median(xs)) if xs else 0.0


class Bench:
    def __init__(self, args, work: str):
        import tracing

        self.args, self.work = args, work
        self.trace = bool(args.trace)
        self.event_dir = os.path.join(work, "events") if self.trace else None
        self.spans = tracing.Spans()
        self.op: str | None = None
        self.ops: list[dict] = []
        self.errors: list[str] = []
        self.setup_s = 0.0
        self.ratio = 0.0
        self.per_op: dict[str, dict] = {}

    # -- helpers -----------------------------------------------------------
    def group(self, label: str) -> None:
        self.op = label
        self.spark.sparkContext.setJobGroup(label, label, False)

    def measure(self, n: int, fn, items: int, warmup: bool = False) -> None:
        """Run one operation under its own job group; exceptions and failed
        checks both count as a failed operation."""
        import tracing

        label = f"perfbench-warmup-{n}" if warmup else f"{tracing.GROUP_PREFIX}{n}"
        self.group(label)
        t0 = time.perf_counter()
        try:
            errs = fn(label) or []
        except Exception:
            errs = [traceback.format_exc(limit=4)]
        wall = time.perf_counter() - t0
        self.group("perfbench-between")
        self.errors.extend(f"{label}: {e}" for e in errs)
        if not warmup:
            self.ops.append({"label": label, "wall": wall, "items": items, "ok": not errs})

    def loop(self, step) -> None:
        """Closed loop, one client: call ``step(n)`` until --seconds have
        passed (at least once), finishing the operation in flight."""
        t0, n = time.perf_counter(), 0
        while n == 0 or time.perf_counter() - t0 < self.args.seconds:
            step(n)
            n += 1

    # -- workloads ---------------------------------------------------------
    def run_build(self) -> None:
        import corpus

        t0 = time.perf_counter()
        pages = corpus.write_pages(os.path.join(self.work, "pages"), self.args.seed)
        self.setup_s += time.perf_counter() - t0
        # the checks' expected values are the benchmark's work, not set-up
        expected = corpus.expected_build(pages)

        ratios, self.builds = [], {}

        def step(n):
            if n:
                # every build is cold: a fresh session, JVM and Python workers
                stop_spark(self.spark)
                self.spark = start_spark(f"perfbench-build-{n}", self.work, self.event_dir)
            out = os.path.join(self.work, f"idx{n}")

            def op(label):
                props = corpus.build_index(self.spark, pages, out, label)
                self.builds[label] = props
                return corpus.check_build(props, expected)

            self.measure(n, op, expected["n_docs"])
            label = self.ops[-1]["label"]
            if label in self.builds:
                ratios.append(corpus.segment_bytes(out) / expected["text_bytes"])
                if self.trace:
                    self.build_layers(label, out)
                shutil.rmtree(out, ignore_errors=True)

        self.loop(step)
        self.ratio = median(ratios)

    def build_layers(self, label: str, out: str) -> None:
        import corpus

        walls = self.builds[label]["stage_walls"]
        self.per_op.setdefault(label, {}).update(
            {
                "functions.tokenize.build_s": walls["tokenize_postings"],
                "operators.postings.term_stats_s": walls["term_stats"],
                "operators.postings.corpus_stats_s": walls["corpus_stats"],
                "plans.build.boundaries_s": walls["boundaries"],
                "operators.segments.encode_commit_s": walls["encode_commit"],
                "functions.tokenize.postings_rows": corpus.parquet_rows(os.path.join(out, "postings")),
                "operators.segments.slices": corpus.parquet_rows(os.path.join(out, "segments")),
                "operators.segments.index_bytes": corpus.segment_bytes(out),
            }
        )

    def prepare_serve(self) -> None:
        """Everything the checks need, before the measured session starts:
        the cached serving index (built in a session of its own on first
        use), the claims and the oracle's answers for the sampled ones."""
        import corpus

        from defactonlp_spark.sources.fixtures import gen_claims

        self.fixture = corpus.serving_dir(ROOT, CACHE)
        if not corpus.serving_ready(self.fixture):
            spark = start_spark("perfbench-fixture", self.work, None)
            try:
                corpus.build_serving(spark, self.fixture)
            finally:
                stop_spark(spark)
        with open(os.path.join(self.fixture, "stats.json")) as f:
            self.stats = json.load(f)
        oracle = corpus.Oracle(os.path.join(self.fixture, "oracle.npz"))
        self.claims = gen_claims(CLAIM_POOL, seed=self.args.seed)[["claim_id", "claim"]]
        self.expect = {
            int(r.claim_id): oracle.topk(r.claim, K)
            for r in self.claims.itertuples(index=False)
            if r.claim_id % CHECK_EVERY == 0
        }
        self.ratio = corpus.segment_bytes(os.path.join(self.fixture, "index")) / self.stats["text_bytes"]

    def run_serve(self) -> None:
        import corpus

        from defactonlp_spark.plans.build import IndexReader
        from defactonlp_spark.plans.query import ServingSession

        claims = self.claims
        t0 = time.perf_counter()
        with self.spans.span("plans.build.reader_open"):
            reader = IndexReader(self.spark, os.path.join(self.fixture, "index"))
        with self.spans.span("plans.query.warm"):
            session = ServingSession(reader, corpus.CFG)
            session.warm()
        if reader.n_docs != self.stats["n_docs"]:
            self.errors.append(f"index n_docs {reader.n_docs} != generator {self.stats['n_docs']}")
        pos = [0]

        def request(label):
            idx = [(pos[0] + i) % CLAIM_POOL for i in range(VOLUME_BATCH)]
            pos[0] = (pos[0] + VOLUME_BATCH) % CLAIM_POOL
            pdf = claims.iloc[idx]
            with self.spans.span("plans.query.topk_call", label):
                df = session.topk(self.spark.createDataFrame(pdf), k=K)
            with self.spans.span("plans.query.exec", label):
                out = df.toPandas()
            return check_serving(out, pdf["claim_id"].tolist(), self.expect)

        self.measure(0, request, 0, warmup=True)
        self.setup_s += time.perf_counter() - t0

        self.loop(lambda n: self.measure(n, request, VOLUME_BATCH))
        session.close()

    # -- run ---------------------------------------------------------------
    def execute(self) -> dict:
        import tracing

        w = self.args.workload
        restore = None
        if w != "build":
            self.prepare_serve()
        t0 = time.perf_counter()
        with self.spans.span("session.start"):
            self.spark = start_spark(f"perfbench-{w}", self.work, self.event_dir)
        self.setup_s = time.perf_counter() - t0
        if self.trace:
            restore = tracing.wrap_tableio(self.spans, lambda: self.op)
        host0 = tracing.cpu_jiffies()
        try:
            if w == "build":
                self.run_build()
            else:
                self.run_serve()
            host = tracing.host_delta(host0, tracing.cpu_jiffies())
            rss = tracing.peak_rss_mb()
        finally:
            if restore:
                restore()
            stop_spark(self.spark)
        return self.result(host, rss)

    def result(self, host: dict, rss: float) -> dict:
        walls = [o["wall"] for o in self.ops]
        e2e = {
            "setup_s": self.setup_s,
            "latency_ms_p50": median(walls) * 1000.0,
            "items_per_s": sum(o["items"] for o in self.ops) / max(sum(walls), 1e-9),
            "index_bytes_per_text_byte": self.ratio,
        }
        failed = sum(not o["ok"] for o in self.ops)
        record = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "trace": self.args.trace,
            "ops": len(self.ops),
            "op_walls_s": [round(x, 4) for x in walls],
            "end_to_end": e2e,
            "host": host,
            "peak_rss_mb": rss,
            "errors": self.errors[:5],
        }
        if self.trace:
            layers = self.trace_layers(host, rss, e2e)
            record["per_layer"] = layers
            metrics = {n: {"value": layers[n], "unit": u} for n, u, _ in spec.PER_LAYER}
        else:
            metrics = {n: {"value": e2e[n], "unit": u} for n, u, _, _ in spec.END_TO_END}
        print("perfbench: " + json.dumps(record))
        for e in self.errors[:5]:
            print("perfbench error: " + e.replace("\n", " | "), file=sys.stderr)
        return {
            "correct": failed == 0 and not self.errors,
            "attempted": len(self.ops),
            "failed": failed,
            "metrics": metrics,
        }

    def trace_layers(self, host: dict, rss: float, e2e: dict) -> dict:
        import tracing

        groups = tracing.read_event_log(self.event_dir)
        sp = self.spans
        for o in self.ops:
            label = o["label"]
            g = groups.get(label, {"jobs": 0, "stages": 0, "tasks": 0, "acc": {}})
            d = self.per_op.setdefault(label, {})
            d["sources.tableio.commits"] = sp.count("sources.tableio.commit", label)
            d["sources.tableio.commit_s"] = sp.total("sources.tableio.commit", label)
            d["sources.tableio.files_written"] = sp.total("sources.tableio.files", label)
            if self.args.workload == "build":
                encode = tracing.execs_with(g, "MapInPandas", "encode_iter")
                d["functions.tokenize.build_python_s"] = (
                    tracing.metric_sum(g, "MapInPandas", "time to run Python workers", "gen_ids") / 1000.0
                )
                d["operators.segments.shuffle_bytes"] = tracing.metric_sum_in_execs(
                    g, encode, "shuffle bytes written"
                )
                continue
            scanned = tracing.metric_sum(g, "InMemoryTableScan", "number of output rows")
            useful = tracing.metric_sum(g, "Filter", "number of output rows", above="InMemoryTableScan")
            d.update(
                {
                    "operators.wand.kernel_python_ms": tracing.metric_sum(
                        g, "FlatMapCoGroupsInPandas", "time to run Python workers"
                    ),
                    "operators.wand.kernel_input_bytes": tracing.metric_sum(
                        g, "FlatMapCoGroupsInPandas", "data sent to Python workers"
                    ),
                    "operators.wand.gather_bytes": tracing.metric_sum(g, None, "shuffle bytes written"),
                    "operators.wand.jobs": g["jobs"],
                    "operators.wand.stages": g["stages"],
                    "operators.wand.tasks": g["tasks"],
                    "operators.wand.python_init_ms": tracing.metric_sum(
                        g, None, "time to initialize Python workers"
                    ),
                    "plans.query.topk_call_ms": sp.total("plans.query.topk_call", label) * 1000.0,
                    "plans.query.exec_ms": sp.total("plans.query.exec", label) * 1000.0,
                    "plans.query.cache_scan_rows": scanned,
                    "plans.query.scan_useful_ratio": useful / scanned if scanned else 0.0,
                    "functions.tokenize.claim_passes": tracing.metric_instances(
                        g, "MapInPandas", "data sent to Python workers"
                    ),
                    "functions.tokenize.claim_python_ms": tracing.metric_sum(
                        g, "MapInPandas", "time to run Python workers"
                    ),
                }
            )
        layers = {n: 0.0 for n, _, _ in spec.PER_LAYER}
        for name in layers:
            vals = [d[name] for d in self.per_op.values() if name in d]
            if vals:
                layers[name] = median(vals)
        layers.update(
            {
                "session.start_s": sp.total("session.start"),
                "plans.build.reader_open_s": sp.total("plans.build.reader_open"),
                "plans.query.warm_s": sp.total("plans.query.warm"),
                "mem.peak_rss_mb": rss,
                **host,
                "traced.setup_s": e2e["setup_s"],
                "traced.latency_ms_p50": e2e["latency_ms_p50"],
                "traced.items_per_s": e2e["items_per_s"],
                "traced.ops": len(self.ops),
            }
        )
        return layers


def check_serving(out, claim_ids: list[int], expect: dict) -> list[str]:
    """Sampled claims must match the oracle exactly: doc ids in rank order
    and bit-equal float64 scores. Every claim gets at most K rows."""
    errs = []
    got: dict[int, list[tuple[int, float]]] = {}
    for r in out.sort_values(["claim_id", "rank"]).itertuples(index=False):
        got.setdefault(int(r.claim_id), []).append((int(r.doc_id), float(r.score)))
    for cid in claim_ids:
        rows = got.get(cid, [])
        if len(rows) > K:
            errs.append(f"claim {cid}: {len(rows)} rows > k={K}")
        if cid in expect and rows != expect[cid]:
            errs.append(f"claim {cid}: engine {rows} != oracle {expect[cid]}")
    return errs


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.write_spec:
        print(spec.write(ROOT))
        return 0
    if not os.path.isdir(os.path.join(ROOT, "defactonlp_spark")):
        print(f"perfbench: no engine package at {ROOT}/defactonlp_spark", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    work = os.path.join(CACHE, f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        result = Bench(args, work).execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
