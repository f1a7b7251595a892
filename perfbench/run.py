"""Benchmark of the knowledge-graph pipeline: the `crawl` and `arms` workloads.

  python3 perfbench/run.py --workload crawl --seed 1 --seconds 1 --trace 0

Run from the repository root.  One driver process runs a closed loop: one
client, iterations back to back, on ``local[<cores>]``.  Set-up (session,
inputs, warm-up) is timed as ``setup_s``; then iterations run until
``--seconds`` have passed (at least one).  Every iteration's output is
checked outside the timed window; an exception or a failed check counts as a
failed iteration and makes the command exit with status 1.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with spans around each layer call and prints the per-layer metrics
(see perfbench/README.md).  The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``; the line before it
is a JSON report with per-iteration figures and every error message.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

# Sizes are fixed: the output checks below pin the counts they give.  Page
# content varies with the seed (urls, titles), the triple counts do not.
CRAWL_PAGES, CRAWL_BODY_REPEAT = 10_000, 40
ARMS_PAGES, ARMS_BODY_REPEAT = 2_000, 1

PINS = {
    "crawl": {"fused": 25_988, "conformant": 17_032, "violations": 2_239},
    "arms": {"graph": 3_603, "merged": (5_245, 451), "full": (14_452, 1_634)},
}

# every <layer>.<call> the traced runs can record, in report order
LAYER_CALLS = (
    "session.get_spark",
    "extract.extract_text", "extract.detect_mentions", "extract.emit_triples",
    "pipeline.fuse", "pipeline.fuse_full",
    "reasoning.derive_linear", "reasoning.run_all_checks",
    "canonicalize.connected_components", "canonicalize.canonicalize_triples",
    "validate.validate",
    "checkpoint.run_stage", "checkpoint.save",
)
LAYER_MEASURES = ("wall_s", "self_s", "jobs", "tasks", "task_ms", "busy_ratio", "shuffle_write_bytes")
# counts the result line carries besides LAYER_MEASURES; the output counts
# (rows, triples_out, rep_map_rows, violations) are pinned by the output
# checks, so they go to the report line and the trace file only
LAYER_COUNTS = {
    "pipeline.fuse": ("rounds",),
    "pipeline.fuse_full": ("rounds",),
    "checkpoint.save": ("bytes_written",),
}
OUTPUT_COUNTS = ("rows", "triples_out", "rep_map_rows", "violations")


class CheckFailed(Exception):
    pass


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


# -- box ------------------------------------------------------------------------

def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap_mb() -> int:
    """A quarter of MemTotal, within [1 GiB, 8 GiB]: the box has no swap, and
    the JVM, the Python workers and the page cache share what is left."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(1024, min(8192, kb // 1024 // 4))


def descendants() -> list[int]:
    """Process ids of every live descendant of this process."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


class RssSampler:
    """Peak resident memory of this process's descendants (the driver JVM and
    its Python workers), sampled from /proc on a background thread."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss_mb(self) -> float:
        total = 0
        for pid in descendants():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return total / 2**20

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak_mb = max(self.peak_mb, self._tree_rss_mb())

    def reset(self) -> float:
        """Return the peak since the last reset, then start a new window."""
        peak = max(self.peak_mb, self._tree_rss_mb())
        self.peak_mb = 0.0
        return peak

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# -- session --------------------------------------------------------------------

def start_session(work: Path, n_cores: int):
    """The program's own session factory, fitted to this box and confined to
    the work directory (no writes to /tmp or the user's home)."""
    from re_shacl_spark.session import get_spark

    for sub in ("tmp", "spark-local", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    # Python workers import re_shacl_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # also reaches the launcher JVM that spark-submit starts before the driver
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    spark = get_spark(
        "perfbench",
        master=f"local[{n_cores}]",
        shuffle_partitions=n_cores,
        extra_conf={
            "spark.driver.memory": f"{driver_heap_mb()}m",
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={work}",
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage of a run for the traced post-pass
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            # the production job's settings (jobs/run_pipeline.py)
            "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
            "spark.sql.files.maxPartitionBytes": "33554432",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the driver JVM and wait until it and its Python
    workers have exited."""
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    # the JVM exits when its stdin closes (pyspark's launcher contract)
    jvm.stdin.close()
    jvm.wait(timeout=60)
    deadline = time.monotonic() + 30
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)


# -- forcing ----------------------------------------------------------------------

class Forcer:
    """Materializes layer outputs inside their span (traced runs only), so the
    span holds the layer's work rather than a lazy plan; frees them after the
    iteration."""

    def __init__(self):
        self.frames = []

    def frame(self, df):
        from pyspark import StorageLevel

        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self.frames.append(df)
        return df, df.count()

    def release(self) -> None:
        for df in self.frames:
            df.unpersist()
        self.frames = []


def dir_bytes(path: str) -> int:
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file())


# -- workloads ------------------------------------------------------------------

class Crawl:
    """construct_kg over a parquet page table with a fresh CheckpointStore per
    iteration, as jobs/run_pipeline.py --checkpoint runs it."""

    def __init__(self, spark, work: Path, seed: int, tracer):
        from re_shacl_spark import corpus

        self.spark, self.work, self.tracer = spark, work, tracer
        path = str(work / "pages")
        corpus.generate_pages(spark, CRAWL_PAGES, seed=seed, body_repeat=CRAWL_BODY_REPEAT) \
            .write.parquet(path)
        self.page_table = spark.read.parquet(path)
        self.alias_rows = corpus.alias_rows()
        self.token = corpus.pages_token(CRAWL_PAGES, seed=seed, body_repeat=CRAWL_BODY_REPEAT)
        self.store_dir = None

    def run(self) -> dict:
        from re_shacl_spark.checkpoint import CheckpointStore
        from re_shacl_spark.job import construct_kg

        self.store_dir = self.work / f"checkpoint-{self.tracer.iteration}"
        store = CheckpointStore(self.spark, str(self.store_dir))
        res = construct_kg(self.spark, self.page_table, self.alias_rows, store=store,
                           input_token=self.token)
        return {k: res.metrics[k] for k in ("fused_triples", "conformant_triples", "violations")}

    def check(self, out: dict) -> dict:
        pin = PINS["crawl"]
        got = (out["fused_triples"], out["conformant_triples"], out["violations"])
        want = (pin["fused"], pin["conformant"], pin["violations"])
        check(got == want, f"crawl fused/conformant/violations {got} != pinned {want}")
        return {"conformant_triples": out["conformant_triples"]}

    def cleanup(self) -> None:
        if self.store_dir is not None:
            shutil.rmtree(self.store_dir, ignore_errors=True)

    @contextlib.contextmanager
    def traced(self, forcer: Forcer):
        """Interpose spans on the layer calls construct_kg makes: the names it
        looks up in re_shacl_spark.job and the CheckpointStore methods."""
        from re_shacl_spark import job
        from re_shacl_spark.checkpoint import CheckpointStore

        tr = self.tracer

        def frame_call(name, fn):
            def wrapped(*a, **kw):
                with tr.span(name) as at:
                    df, at["rows"] = forcer.frame(fn(*a, **kw))
                    return df
            return wrapped

        def fuse_call(fn):
            def wrapped(*a, **kw):
                with tr.span("pipeline.fuse") as at:
                    return force_fusion(fn(*a, **kw), forcer, at)
            return wrapped

        def validate_call(fn):
            def wrapped(*a, **kw):
                with tr.span("validate.validate") as at:
                    rep = fn(*a, **kw)
                    rep.violations, at["violations"] = forcer.frame(rep.violations)
                    return rep
            return wrapped

        def store_call(name, fn):
            def wrapped(store, stage, *a, **kw):
                with tr.span(name, stage=stage) as at:
                    out = fn(store, stage, *a, **kw)
                    if name == "checkpoint.save":
                        at["bytes_written"] = dir_bytes(store._stage_dir(stage))
                    return out
            return wrapped

        patches = [
            (job, "extract_text", frame_call("extract.extract_text", job.extract_text)),
            (job, "detect_mentions", frame_call("extract.detect_mentions", job.detect_mentions)),
            (job, "emit_triples", frame_call("extract.emit_triples", job.emit_triples)),
            (job, "fuse", fuse_call(job.fuse)),
            (job, "validate", validate_call(job.validate)),
            (CheckpointStore, "run_stage", store_call("checkpoint.run_stage", CheckpointStore.run_stage)),
            (CheckpointStore, "save", store_call("checkpoint.save", CheckpointStore.save)),
        ]
        saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in patches]
        try:
            for obj, attr, fn in patches:
                setattr(obj, attr, fn)
            yield
        finally:
            for obj, attr, fn in saved:
                setattr(obj, attr, fn)


def force_fusion(res, forcer: Forcer, at: dict):
    res.triples, at["triples_out"] = forcer.frame(res.triples)
    res.rep_map, at["rep_map_rows"] = forcer.frame(res.rep_map)
    at["rounds"] = res.rounds
    return res


class Arms:
    """The paper's comparison: merged and fully materialized fusion of one
    corpus graph, each followed by validate() on that arm's output."""

    def __init__(self, spark, work: Path, seed: int, tracer):
        from re_shacl_spark import corpus
        from re_shacl_spark.extract.emit import emit_triples
        from re_shacl_spark.extract.html import extract_text
        from re_shacl_spark.extract.mentions import detect_mentions
        from re_shacl_spark.job import CORPUS_TBOX, corpus_shapes
        from re_shacl_spark.model.triples import iri_triple, triples_df
        from re_shacl_spark.pipeline import fuse, fuse_full

        self.spark, self.tracer = spark, tracer
        # construct_kg's stages s1-s3, run once: the timed iterations start
        # from the emitted triple store
        pages = corpus.generate_pages(spark, ARMS_PAGES, seed=seed, body_repeat=ARMS_BODY_REPEAT)
        s1 = extract_text(pages).drop("html")
        s2 = detect_mentions(s1.select("url", "text", "lang"), corpus.alias_rows(), drop=("text",))
        g = emit_triples(s2, corpus.ENTITY_CLASSES).unionByName(
            triples_df(spark, [iri_triple(*x) for x in CORPUS_TBOX]))
        self.graph = g.repartition(spark.sparkContext.defaultParallelism, "s") \
            .localCheckpoint(eager=True)
        self.graph_triples = self.graph.count()
        self.shapes = corpus_shapes()
        self.arms = (("merged", "pipeline.fuse", fuse), ("full", "pipeline.fuse_full", fuse_full))
        self.forcer: Forcer | None = None

    def run(self) -> dict:
        from re_shacl_spark.validate.engine import validate

        tr, out = self.tracer, {}
        for arm, span_name, fn in self.arms:
            t0 = time.perf_counter()
            with tr.span(span_name) as at:
                res = fn(self.spark, self.graph)
                if self.forcer is not None:
                    force_fusion(res, self.forcer, at)
            with tr.span("validate.validate") as at:
                n_viol = validate(self.spark, res.triples, self.shapes).violations.count()
                at["violations"] = n_viol
            out[arm] = {"seconds": time.perf_counter() - t0, "fusion": res, "violations": n_viol}
        return out

    def check(self, out: dict) -> dict:
        got = {"graph": self.graph_triples}
        for arm, _, _ in self.arms:
            got[arm] = (out[arm]["fusion"].triples.count(), out[arm]["violations"])
        check(got == PINS["arms"], f"arms graph, (triples, violations) per arm: {got} != pinned {PINS['arms']}")
        check(got["merged"][0] < got["full"][0], f"arms merged graph not smaller than full: {got}")
        return {f"{arm}_s": out[arm]["seconds"] for arm, _, _ in self.arms}

    def cleanup(self) -> None:
        pass

    @contextlib.contextmanager
    def traced(self, forcer: Forcer):
        self.forcer = forcer
        try:
            yield
        finally:
            self.forcer = None

    def probes(self) -> None:
        """Standalone calls into the reasoning and canonicalization layers,
        which the arms only reach inside fusion."""
        from re_shacl_spark.canonicalize.cc import connected_components
        from re_shacl_spark.canonicalize.rewrite import canonicalize_triples
        from re_shacl_spark.model.triples import vocab
        from re_shacl_spark.reasoning.checks import run_all_checks
        from re_shacl_spark.reasoning.rules import RuleEngine
        from re_shacl_spark.reasoning.tbox import build_tbox_index, extract_tbox
        from pyspark.sql import functions as F

        tr, g, forcer = self.tracer, self.graph, Forcer()
        tbox = build_tbox_index(extract_tbox(g))
        try:
            with tr.span("reasoning.derive_linear") as at:
                _, at["rows"] = forcer.frame(RuleEngine(self.spark, tbox).derive_linear(g))
            with tr.span("reasoning.run_all_checks") as at:
                at["violations"] = sum(run_all_checks(g, tbox, raise_on_violation=False).values())
            edges = g.filter(F.col("p") == vocab.SAMEAS).select("s", "o")
            with tr.span("canonicalize.connected_components") as at:
                rep_map, at["rows"] = forcer.frame(connected_components(edges))
            with tr.span("canonicalize.canonicalize_triples") as at:
                _, at["rows"] = forcer.frame(canonicalize_triples(g, rep_map))
        finally:
            forcer.release()


WORKLOADS = {"crawl": Crawl, "arms": Arms}


# -- run ------------------------------------------------------------------------

def tail_percentile(values: list[float]) -> tuple[float | None, float | None]:
    """The highest of p50/p90/p99/p99.9 with at least ten samples beyond it."""
    ps = [p for p in (50, 90, 99, 99.9) if len(values) * (1 - p / 100) >= 10]
    if not ps:
        return None, None
    qs = statistics.quantiles(values, n=1000, method="inclusive")
    return ps[-1], qs[int(ps[-1] * 10) - 1]


def layer_metrics(records: list[dict], n_iter: int) -> dict:
    """Per-iteration totals of every layer call, plus the traced iteration's
    wall time and the part of it no layer span covers."""
    out = {}
    for call in LAYER_CALLS:
        recs = [r for r in records if r["name"] == call]
        # calls inside timed iterations are averaged over them; session
        # start and the probes happen once per run
        div = n_iter if any(r["iteration"] is not None for r in recs) else 1
        for m in LAYER_MEASURES + LAYER_COUNTS.get(call, ()):
            if m == "busy_ratio":
                self_s = sum(r["self_s"] for r in recs)
                val = sum(r["task_ms"] for r in recs) / 1000.0 / (self_s * cores()) if self_s else 0.0
            else:
                val = sum(r.get(m, 0) for r in recs) / div
            out[f"{call}.{m}"] = val
    iters = [r for r in records if r["name"] == "iteration"]
    out["iteration.wall_s"] = statistics.median(r["wall_s"] for r in iters)
    out["iteration.unattributed_s"] = statistics.median(r["self_s"] for r in iters)
    return out


def unit_of(metric: str) -> str:
    m = metric.rsplit(".", 1)[-1]
    if m.endswith("_per_s"):
        return "1/s"
    if m.endswith("_mb"):
        return "MB"
    if m.endswith("_s"):
        return "s"
    if m.endswith("_bytes") or m == "bytes_written":
        return "bytes"
    if m.endswith("_ms"):
        return "ms"
    if m in ("busy_ratio", "error_rate"):
        return "ratio"
    return "count"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # fail before starting anything when the program is not beside us
    import re_shacl_spark.job  # noqa: F401
    from spans import Tracer

    work_root = ROOT / ".perfbench-work"
    work = work_root / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    n_cores = cores()
    spark = None
    try:
        with RssSampler() as rss:
            t_setup = time.perf_counter()
            spark = start_session(work, n_cores)
            tracer = Tracer(spark, bool(args.trace))
            # get_spark has returned before the tracer exists: record its span
            # from the measured interval
            session_s = time.perf_counter() - t_setup
            wl = WORKLOADS[args.workload](spark, work, args.seed, tracer)
            setup_s = time.perf_counter() - t_setup

            report = run_loop(wl, tracer, args.seconds, rss)
            report.update(workload=args.workload, seed=args.seed, cores=n_cores,
                          setup_s=setup_s, session_s=session_s,
                          driver_heap_mb=driver_heap_mb())
            if args.trace:
                if isinstance(wl, Arms):
                    with tracer.span("probes"):
                        wl.probes()
                unowned = tracer.collect()
                records = tracer.records(n_cores)
                records.append({"name": "session.get_spark", "iteration": None, "wall_s": session_s,
                                "self_s": session_s, "task_ms": 0})
                trace_dir = work_root / "traces"
                trace_dir.mkdir(parents=True, exist_ok=True)
                trace_file = trace_dir / f"{args.workload}-seed{args.seed}-{os.getpid()}.json"
                trace_file.write_text(json.dumps(records, indent=1))
                report.update(trace_file=str(trace_file.relative_to(ROOT)), jobs_outside_spans=unowned)
                metrics = layer_metrics(records, report["attempted"])
                counts = report["layer_output_counts"] = {}
                for r in records:
                    for c in OUTPUT_COUNTS:
                        if c in r:
                            counts.setdefault(f"{r['name']}.{c}", []).append(r[c])
                report["checkpoint_bytes_written"] = {
                    r["stage"]: r["bytes_written"] for r in records if r["name"] == "checkpoint.save"}
            else:
                metrics = end_to_end(report, wl)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(report))
    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }))
    return 0 if report["failed"] == 0 else 1


def run_loop(wl, tracer, seconds: float, rss: RssSampler) -> dict:
    """Closed loop: iterations back to back until `seconds` have passed."""
    it_wall, it_rss, extras, errors = [], [], [], []
    attempted = 0
    t_start = time.perf_counter()
    while True:
        tracer.iteration = attempted
        attempted += 1
        forcer = Forcer()
        rss.reset()
        try:
            with wl.traced(forcer) if tracer.enabled else contextlib.nullcontext():
                t0 = time.perf_counter()
                with tracer.span("iteration"):
                    out = wl.run()
                wall = time.perf_counter() - t0
            it_rss.append(rss.reset())
            tracer.iteration = None
            extras.append(wl.check(out))
            it_wall.append(wall)
        except Exception as e:  # an iteration is the boundary: count it, keep going
            errors.append(f"iteration {attempted - 1}: {type(e).__name__}: {e}")
            traceback.print_exc()
        finally:
            forcer.release()
            wl.cleanup()
        if time.perf_counter() - t_start >= seconds:
            break
    tracer.iteration = None
    return {
        "attempted": attempted,
        "failed": attempted - len(it_wall),
        "error_rate": (attempted - len(it_wall)) / attempted,
        "errors": errors,
        "iteration_wall_s": it_wall,
        "iteration_peak_rss_mb": it_rss,
        "iteration_outputs": extras,
    }


def end_to_end(report: dict, wl) -> dict:
    """Fill the report's per-workload metrics; return the ones every workload
    has, which form the result line."""
    walls = report["iteration_wall_s"]
    if not walls:
        return {"setup_s": report["setup_s"]}
    outs = report["iteration_outputs"]
    wall = statistics.median(walls)
    p, p_val = tail_percentile(walls)
    common = {"setup_s": report["setup_s"], "wall_s": wall}
    # JVM resident memory follows the collector's heap sizing: across seeds
    # its spread is too wide for a bound, so it is reported, not gated
    extra = {"peak_rss_mb": max(report["iteration_peak_rss_mb"]), "error_rate": report["error_rate"]}
    if isinstance(wl, Crawl):
        extra["pages_per_s"] = CRAWL_PAGES / wall
        extra["conformant_triples_per_s"] = statistics.median(
            x["conformant_triples"] for x in outs) / wall
    else:
        for arm, _, _ in wl.arms:
            extra[f"{arm}_s"] = statistics.median(x[f"{arm}_s"] for x in outs)
    report["metrics"] = {k: {"value": v, "unit": unit_of(k)} for k, v in {**common, **extra}.items()}
    report["wall_s_distribution"] = {"median": wall, "tail_percentile": p, "tail_value": p_val,
                                     "samples": len(walls)}
    return common


if __name__ == "__main__":
    sys.exit(main())
