"""Seeded benchmark of the quality-filter pipeline.

    python3 perfbench/run.py --workload filter_distinct --seed 1 --seconds 10 --trace 0

Workloads, on one seeded corpus of all-distinct texts (``corpus.py``):

* ``filter_distinct`` — ``QualityFilterPipeline.run`` with the sampling
  engine and ``jobs/run_pipeline.py``'s options (salted repartition on),
  written to a ``noop`` sink.
* ``filter_langid_v3`` — the same with ``PipelineOptions(engine="langid_v3")``.

One run: generate the corpus; set up ``SETUPS`` times, each on a fresh JVM
(JVM launch and session start, ``load_default_model`` with its cache
cleared, pipeline construction; the Python imports are done once before);
``setup_s`` is their median. On the last set-up, run the cold first pass
(it spawns the Python workers and fetches the broadcast model), then steady
passes until ``--seconds`` have passed (at least one). The first pass after
the cold one runs 5-20% slower than later ones (JIT, worker-side caches)
but is timed as steady all the same: over ten seeds per workload, the
median of the first two passes after the cold one spread less from run to
run than the median of the two after those, and the run saves a pass. Every
pass is checked; a pass that raises or fails its check counts as failed.

Timed steps are adjusted for host speed. A control (``control.py``: fixed
CPU work on every core, sharing no code with the program) is timed before
the first set-up and after every set-up and pass; ``docs_per_s``,
``first_pass_s`` and ``setup_s`` use the walls scaled by ``CONTROL_REF_S``
over the median of the readings taken around the steps they time
(``host_factor``); the cold pass, with only two readings around it, also
takes the one after the next pass. On a shared host the speed a run gets
drifts by tens of percent between minutes, and a burst of steal can slow
one phase of a run and not the next; the scaling cancels part of that. One
reading jitters more than a pass does, hence the median. The unadjusted
values are on the detail line. The last line of stdout is the result JSON:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace
1``. The traced run sets up once and makes a shorter untraced measurement
first, so the tracing overhead is measured within the run; it then measures
every layer on the workload's path, the kernels of both engines, and the
batch job's write side (``run_checkpointed``, then the dedup family of
``jobs/run_pipeline.py --dedup --dedup-mode cc`` stage by stage) over a
corpus with planted duplicates and a boilerplate hub. The line before the
result carries per-pass walls, quartiles, the failure fraction and the host
context. Work files go to ``.bench_work/`` at the repository root. Before
it prints the result the run stops every process it started (the JVMs, the
PySpark workers, the control's workers) and waits for each to end, also
when it fails.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import itertools
import json
import random
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import corpus  # noqa: E402
from control import Control  # noqa: E402
import procfs  # noqa: E402
import spark_env  # noqa: E402

ROOT = spark_env.ROOT
WORK = ROOT / ".bench_work"
ENGINES = {"filter_distinct": "sampling", "filter_langid_v3": "langid_v3"}
N_DOCS = 2000
SETUPS = 2  # each on a fresh JVM; setup_s is their median (mean)
SAMPLE_DOCS = 128
JOB_DOCS = 1000
JOB_BUCKETS = 16  # scaled to the job corpus (~65 docs each), committed in one chunk
# wall of one control measurement on an otherwise idle 4-vCPU host, so that
# adjusted times read close to wall times there
CONTROL_REF_S = 0.16
SCALING_FILES = 2  # of corpus.N_FILES: the slice timed at local[1] and local[n]


class Tracer:
    """In-memory spans (name, start, end, parent, workload, pass)."""

    def __init__(self, enabled: bool, workload: str) -> None:
        self.enabled = enabled
        self.workload = workload
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, pass_: int | None = None):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "workload": self.workload, "pass": pass_}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()


@dataclass
class Pass:
    wall_s: float = 0.0
    cpu_s: float = 0.0
    ok: bool = False
    error: str | None = None
    facts: dict = field(default_factory=dict)
    summary: dict = field(default_factory=dict)


def quality_config():
    from language_detection_spark.operators.quality import QualityConfig

    # jobs/run_pipeline.py's configuration (--lang-allow en)
    return QualityConfig(lang_allow=("en",), min_stopword_hits=1)


def setup(engine: str, fresh_model: bool = True, **session) -> tuple:
    """One set-up: session start (``spark_env.session(**session)``, which
    launches the JVM if none runs), model load (with the model cache
    cleared if ``fresh_model``), pipeline construction with jobs/run_pipeline.py's options (salted
    repartition, 4 waves per core)."""
    from language_detection_spark.models import factory
    from language_detection_spark.operators.pipeline import PipelineOptions, QualityFilterPipeline

    t0 = time.perf_counter()
    spark = spark_env.session(**session)
    t1 = time.perf_counter()
    if fresh_model:
        factory._MODEL_CACHE.clear()
    model = factory.load_default_model()
    t2 = time.perf_counter()
    opts = PipelineOptions(repartition=4 * spark.sparkContext.defaultParallelism, engine=engine)
    pipe = QualityFilterPipeline(spark, model, quality_config(), opts)
    t3 = time.perf_counter()
    return spark, model, pipe, {"session_s": t1 - t0, "load_s": t2 - t1, "total_s": t3 - t0}


def expected_annotations(model, docs: list[tuple[str, str]], engine: str) -> dict:
    """(lang, lang_conf, ppl) per url, recomputed in this process the way
    the annotate UDF computes them for ``engine``."""
    from language_detection_spark.operators.detector import annotate_batch, doc_seed

    urls, texts = [u for u, _ in docs], [t for _, t in docs]
    if engine == "langid_v3":
        from language_detection_spark.operators.langid_v3 import LangIdV3
        from language_detection_spark.operators.perplexity import perplexity_batch

        langs, confs = LangIdV3().classify_batch(texts, unknown_on_featureless=True)
        index = {l: i for i, l in enumerate(model.langs)}
        ppl = perplexity_batch(model, texts, [index.get(l, -1) for l in langs])
    else:
        langs, confs, ppl = annotate_batch(model, texts, [doc_seed(u) for u in urls])
    return {
        u: (l, float(c), None if p != p else float(p))
        for u, l, c, p in zip(urls, langs, confs, ppl)
    }


def check_sample(rows, expected: dict) -> str | None:
    """Compare pipeline rows (url, lang, lang_conf, ppl) with ``expected``."""
    seen = 0
    for url, lang, conf, ppl in rows:
        if url not in expected:
            continue
        seen += 1
        if (lang, conf, ppl) != expected[url]:
            return f"sample {url}: got {(lang, conf, ppl)} want {expected[url]}"
    return None if seen else "no sampled document in the output"


_OBSERVATIONS = itertools.count()  # observation names are unique per session


def filter_pass(pages, pipe, expected: dict, ref: dict | None, perturb, i: int,
                plan_to: Path | None = None) -> Pass:
    """One timed pass: ``pipe.run`` (plan construction, model broadcast),
    then a write to a noop sink.  Row count, an order-free digest of the
    output and the sampled rows ride the same action (``observe``).  The
    executed plan goes to ``plan_to`` if given."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    p = Pass()
    cpu0 = procfs.tree_cpu_s()
    t0 = time.perf_counter()
    out = pipe.run(pages)
    if perturb is not None:
        out = perturb(out, i)
    obs = Observation(f"out{next(_OBSERVATIONS)}")
    out = out.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.bit_xor(F.xxhash64("url", "lang", "lang_conf", "ppl", "scrubbed_text")).alias("digest"),
        F.collect_list(F.when(F.col("url").isin(list(expected)),
                              F.struct("url", "lang", "lang_conf", "ppl"))).alias("sample"),
    )
    out.write.format("noop").mode("overwrite").save()
    p.wall_s = time.perf_counter() - t0
    p.cpu_s = procfs.tree_cpu_s() - cpu0
    if plan_to is not None:
        plan_to.write_text(out._jdf.queryExecution().executedPlan().toString())
    got = obs.get
    p.facts = {"rows": got["rows"], "digest": got["digest"]}
    p.error = check_sample([tuple(r) for r in got["sample"]], expected)
    if p.error is None and ref is not None and ref != p.facts:
        p.error = f"output {p.facts} differs from the first pass's {ref}"
    p.ok = p.error is None
    return p


def read_parquet(path: Path, columns: list[str]) -> dict:
    import pyarrow.dataset as ds

    return ds.dataset(str(path), format="parquet", partitioning="hive").to_table(
        columns=columns).to_pydict()


def checkpoint_pass(spark, pipe, work: Path, seed: int, engine: str, tracer, plans: dict) -> Pass:
    """The batch job's write side over a corpus with planted duplicates:
    ``run_checkpointed`` with the pipeline's annotate (as
    ``jobs/run_pipeline.py`` calls it), then its dedup family stage by
    stage.  Checked: audit rows_in equals the input, sampled annotations
    match, no planted exact duplicate survives exact dedup; the recall of
    planted near-duplicates among kept documents is recorded."""
    import layers
    from language_detection_spark.plans.checkpoint import run_checkpointed

    rows, truth = corpus.write_corpus(str(work / "corpus"), JOB_DOCS, seed, planted=True)
    sample = random.Random(seed).sample(rows, min(SAMPLE_DOCS, len(rows)))
    expected = expected_annotations(pipe.model, [(u, t) for u, _, t in sample], engine)
    out = work / "out"
    p = Pass()
    t0 = time.perf_counter()
    with tracer.span("checkpoint"):
        summary = run_checkpointed(
            spark.read.parquet(str(work / "corpus" / "pages.parquet")), str(out),
            n_buckets=JOB_BUCKETS, chunk_size=JOB_BUCKETS, annotate=pipe.annotate,
            drop_columns=("text",))
    p.wall_s = time.perf_counter() - t0
    files, size = layers.files_and_bytes(str(out / "data"), str(out / "audit"))
    p.summary = {"checkpoint.write_s": summary["write_sec"],
                 "checkpoint.audit_s": summary["audit_sec"],
                 "checkpoint.files_written": files, "checkpoint.bytes_written": size}
    timer = layers.Timer(spark, tracer)
    stages, survivors, pairs = layers.dedup_stages(spark, str(out / "data"), timer)
    p.summary.update(stages)
    data = read_parquet(out / "data", ["url", "lang", "lang_conf", "ppl", "keep"])
    kept = {u for u, k in zip(data["url"], data["keep"]) if k}
    near = [tuple(sorted(ab)) for ab in truth["near"] if set(ab) <= kept]
    p.summary["dedup.planted_recall"] = (
        sum(ab in pairs for ab in near) / len(near) if near else 0.0)
    plans.update(timer.plans)
    errors = []
    rows_in = sum(read_parquet(out / "audit", ["rows_in"])["rows_in"])
    if rows_in != len(rows):
        errors.append(f"audit rows_in {rows_in} != input rows {len(rows)}")
    both = [ab for ab in truth["exact"] if set(ab) <= survivors]
    if both:
        errors.append(f"{len(both)} planted exact duplicates survived, e.g. {both[0]}")
    err = check_sample(zip(data["url"], data["lang"], data["lang_conf"], data["ppl"]), expected)
    if err:
        errors.append(err)
    p.error = "; ".join(errors) or None
    p.ok = p.error is None
    return p


def checked_pass(one_pass, ref, i: int, tracer: Tracer, label: str) -> Pass:
    with tracer.span(label, pass_=i):
        try:
            return one_pass(ref, i)
        except Exception as e:  # a failed pass is counted, not fatal
            return Pass(error=f"{type(e).__name__}: {e}")


def run_passes(one_pass, seconds: float, tracer: Tracer, ref: dict, first: int,
               label: str = "pass") -> list[Pass]:
    """Steady passes for ``seconds`` (at least one)."""
    passes = []
    t_end = time.perf_counter() + seconds
    while not passes or time.perf_counter() < t_end:
        passes.append(checked_pass(one_pass, ref, first + len(passes), tracer, label))
    return passes


def host_factor(controls: list[float]) -> float:
    """Scales a wall timed between ``controls`` to a host on which the
    control takes ``CONTROL_REF_S``."""
    return CONTROL_REF_S / statistics.median(controls)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def quartiles(xs):
    return statistics.quantiles(xs, n=4) if len(xs) > 1 else list(xs) * 3


def preimport() -> None:
    """Import what a set-up uses, so that every set-up is timed without
    Python imports."""
    import pyspark.sql  # noqa: F401

    from language_detection_spark.models import factory  # noqa: F401
    from language_detection_spark.operators import detector, langid_v3, pipeline  # noqa: F401


def run(workload: str, seed: int, seconds: float, trace: bool, perturb=None,
        n_docs: int = N_DOCS) -> dict:
    stat0 = procfs.cpu_times()
    engine = ENGINES[workload]
    work = WORK / f"{workload}-{seed}"
    shutil.rmtree(work, ignore_errors=True)
    rows, _ = corpus.write_corpus(str(work / "corpus"), n_docs, seed)
    pages = work / "corpus" / "pages.parquet"
    sample = random.Random(seed).sample(rows, min(SAMPLE_DOCS, len(rows)))
    spark_env.prepare(work, spark_env.cores())
    tracer = Tracer(trace, workload)
    preimport()
    with contextlib.ExitStack() as cleanup:  # on every way out: stop Spark, then the control
        control = Control(spark_env.cores())
        cleanup.callback(control.close)
        ctrl = [control.measure()]  # one before the first timed step, one after each
        rss = cleanup.enter_context(procfs.PeakRss())
        cleanup.callback(spark_env.shutdown)
        setups = []
        for k in range(1 if trace else SETUPS):
            if k:
                spark_env.shutdown()  # the next set-up launches a fresh JVM
            with tracer.span("setup"):
                spark, model, pipe, times = setup(engine)
            ctrl.append(control.measure())
            setups.append(times)
        expected = expected_annotations(model, [(u, t) for u, _, t in sample], engine)
        df = spark.read.parquet(str(pages))

        def one(r, i, plan=None):
            try:
                p = filter_pass(df, pipe, expected, r, perturb, i, plan)
            finally:
                ctrl.append(control.measure())
            return p

        plan = work / "plan.txt"
        passes = [checked_pass(lambda r, i: one(r, i, plan), None, 0, tracer, "cold_pass")]
        plan_ok = plan.exists() and "ArrowEvalPython" in plan.read_text()
        ref = passes[0].facts if passes[0].ok else None
        # the traced run halves each of its two measurements to stay inside
        # its time limit; its rates are compared only with each other
        passes += run_passes(one, seconds / 2 if trace else seconds, tracer, ref, 1)
        steady = passes[1:]
        if trace:
            layer = traced_layers(workload, seed, work, rows, model, expected, ref, passes,
                                  steady, seconds, tracer, perturb)
            layer["session.start_s"] = times["session_s"]
            layer["factory.load_s"] = times["load_s"]
            layer["setup.cold_s"] = times["total_s"]
            spill = layer.pop("spark.spill_bytes")
            metrics = {k: {"value": layer[k], "unit": u} for k, u in UNITS.items()}
    for scratch in ("spark-local", "tmp", "warehouse"):
        shutil.rmtree(work / scratch, ignore_errors=True)

    steady_wall = median([p.wall_s for p in steady if p.ok])
    if not trace:
        # ctrl[k] for k < SETUPS is taken before set-up k, ctrl[SETUPS] before
        # the cold pass, ctrl[SETUPS + 1] before the first steady pass
        e2e = {
            "docs_per_s": (len(rows) / (host_factor(ctrl[SETUPS + 1:]) * steady_wall),
                           "docs/s"),
            "cpu_ms_per_doc": (1e3 * sum(p.cpu_s for p in steady) / (len(rows) * len(steady)),
                               "ms"),
            "first_pass_s": (host_factor(ctrl[SETUPS:SETUPS + 3]) * passes[0].wall_s, "s"),
            "setup_s": (host_factor(ctrl[:SETUPS + 1])
                        * median([s["total_s"] for s in setups]), "s"),
            "peak_rss_mb": (rss.peak_mb, "MB"),
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    failed = sum(not p.ok for p in passes)
    detail = {
        "workload": workload, "seed": seed, "docs": len(rows), "cores": spark_env.cores(),
        "setup_s_each": [round(s["total_s"], 4) for s in setups],
        "pass_wall_s": [round(p.wall_s, 4) for p in passes],
        "control_s": [round(c, 4) for c in ctrl],
        "unadjusted": {
            "docs_per_s": len(rows) / steady_wall,
            "first_pass_s": passes[0].wall_s,
            "setup_s": median([s["total_s"] for s in setups]),
        },
        "docs_per_s_quartiles": quartiles([len(rows) / p.wall_s for p in steady if p.wall_s]),
        "steady_passes": len(steady),
        "fail_frac": failed / len(passes),
        "errors": [p.error for p in passes if p.error],
        "plan_has_arrow_udf": plan_ok,
        "host": procfs.host_context(stat0),
    }
    if trace:
        # 0 at this scale, so reported here rather than as a metric
        detail["spark_spill_bytes_per_pass"] = spill
        (work / "trace.json").write_text(json.dumps(tracer.spans))
        detail["trace_file"] = str((work / "trace.json").relative_to(ROOT))
    print(json.dumps(detail))
    return {
        "correct": failed == 0 and plan_ok,
        "attempted": len(passes),
        "failed": failed,
        "metrics": metrics,
    }


def traced_layers(workload, seed, work, rows, model, expected, ref, passes, untraced, seconds,
                  tracer, perturb) -> dict:
    """Per-layer metrics; appends the passes it runs to ``passes``.  Every
    layer is measured on both workloads: the kernels of both engines, the
    plan prefixes and scaling slice of the workload's engine, and the batch
    job's write side with the workload's annotate."""
    import eventlog
    import layers

    out: dict[str, float] = {}
    engine = ENGINES[workload]
    untraced_rate = len(rows) / median([p.wall_s for p in untraced])
    pages = work / "corpus" / "pages.parquet"

    spark_env.stop_active()
    pass_log = work / "eventlog"
    pass_log.mkdir(parents=True, exist_ok=True)
    spark, model, pipe, _ = setup(engine, fresh_model=False, event_log=str(pass_log))
    df = spark.read.parquet(str(pages))
    sc = spark.sparkContext
    first_steady = len(passes) + 1

    def one(r, i):
        # the event log attributes steady passes through their job group
        group = "pass" if i >= first_steady else "cold"
        sc.setJobGroup(group, group)
        return filter_pass(df, pipe, expected, r, perturb, i)

    traced = [checked_pass(one, ref, len(passes), tracer, "traced_pass")]
    traced += run_passes(one, seconds / 2, tracer, ref, first_steady, "traced_pass")
    sc.setLocalProperty("spark.jobGroup.id", None)
    steady = traced[1:]
    traced_wall = median([p.wall_s for p in steady])
    passes += traced

    timer = layers.Timer(spark, tracer)
    out.update(layers.pipeline_prefixes(spark, model, quality_config(), pipe.opts, df, timer))
    plans = dict(timer.plans)
    # scaling: the same slice at local[n] and at local[1], eff = t1 / (n * tn)
    files = sorted(str(f) for f in pages.glob("*.parquet"))[:SCALING_FILES]
    t_n = timer("scaling.local_n", pipe.run(spark.read.parquet(*files)))
    ckpt = checked_pass(lambda r, i: checkpoint_pass(spark, pipe, work / "job", seed, engine,
                                                     tracer, plans),
                        None, len(passes), tracer, "checkpoint_dedup")
    passes.append(ckpt)
    out.update(ckpt.summary)
    spark_env.stop_active()  # also completes the event log
    spark1, _, pipe1, _ = setup(engine, fresh_model=False, master="local[1]")
    timer1 = layers.Timer(spark1, tracer)
    # best of two: the first noop on the new session starts cold workers
    t_1 = timer1("scaling.local_1", pipe1.run(spark1.read.parquet(*files)), repeat=2)
    plans.update(timer1.plans)
    spark_env.stop_active()
    out["scaling.eff_1to4"] = t_1 / (spark_env.cores() * t_n)
    groups = eventlog.parse_dir(str(pass_log))
    none = eventlog.GroupMetrics()
    out["repartition.shuffle_write_bytes"] = (
        groups.get("repartition", none).shuffle_write_bytes / timer.runs["repartition"])
    out["repartition.task_skew"] = groups.get("udf.annotate", none).task_skew()
    layer_sum = sum(out[k] for k in ("scan.wall_s", "repartition.wall_s", "udf.serde_s",
                                     "udf.annotate_s", "quality.rules_s", "quality.scrub_s"))
    out["pipeline.coverage"] = layer_sum / traced_wall
    out["trace.docs_per_s"] = len(rows) / traced_wall
    out["trace.overhead_frac"] = untraced_rate / out["trace.docs_per_s"] - 1.0
    g = groups.get("pass", none)
    out["spark.executor_run_s"] = g.executor_run_s / len(steady)
    out["spark.executor_cpu_s"] = g.executor_cpu_s / len(steady)
    out["spark.jvm_gc_s"] = g.jvm_gc_s / len(steady)
    out["spark.shuffle_write_bytes"] = g.shuffle_write_bytes / len(steady)
    out["spark.spill_bytes"] = g.spill_bytes / len(steady)

    (work / "plans.json").write_text(json.dumps(plans, indent=1))
    with tracer.span("kernels"):
        out.update(layers.kernels(model, [u for u, _, _ in rows], [t for _, _, t in rows], engine,
                                  tracer))
    return out


# per-layer metric -> unit (BENCHMARK.json's per_layer list, in order)
UNITS = {
    "normalize.ms_per_kdoc": "ms/kdoc", "ngram.ms_per_kdoc": "ms/kdoc",
    "ngram.keys_per_doc": "keys/doc", "factory.lookup_ms_per_kdoc": "ms/kdoc",
    "factory.lookup_hit_ratio": "ratio", "perplexity.ms_per_kdoc": "ms/kdoc",
    "detector.annotate_ms_per_kdoc": "ms/kdoc", "detector.sampling_ms_per_kdoc": "ms/kdoc",
    "detector.unknown_frac": "ratio", "detector.batch_dup_ratio": "ratio",
    "langid_v3.ms_per_kdoc": "ms/kdoc",
    "scan.wall_s": "s", "repartition.wall_s": "s", "repartition.shuffle_write_bytes": "B",
    "repartition.task_skew": "ratio", "udf.serde_s": "s", "udf.annotate_s": "s",
    "pipeline.coverage": "ratio",
    "quality.rules_s": "s", "quality.scrub_s": "s",
    "checkpoint.write_s": "s", "checkpoint.audit_s": "s", "checkpoint.files_written": "count",
    "checkpoint.bytes_written": "B",
    "dedup.exact_s": "s", "dedup.signature_s": "s", "dedup.candidates_s": "s",
    "dedup.verify_s": "s", "dedup.cc_s": "s", "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count", "dedup.verify_yield": "ratio",
    "dedup.capped_buckets": "count", "dedup.capped_members": "count",
    "dedup.planted_recall": "ratio",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.jvm_gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "session.start_s": "s", "factory.load_s": "s", "setup.cold_s": "s",
    "scaling.eff_1to4": "ratio",
    "trace.docs_per_s": "docs/s", "trace.overhead_frac": "ratio",
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(ENGINES))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=N_DOCS,
                    help="corpus size; smaller only for the self-tests' smoke run")
    args = ap.parse_args(argv)
    if importlib.util.find_spec("language_detection_spark") is None:
        sys.path.insert(0, str(ROOT))
        if importlib.util.find_spec("language_detection_spark") is None:
            print(f"language_detection_spark not found under {ROOT}", file=sys.stderr)
            return 1
    procfs.adopt_orphans()
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), n_docs=args.docs)
    finally:
        stopped = procfs.stop_tree()  # whatever the run left, e.g. an exiting PySpark daemon
    if not stopped:
        print("a process started by the run did not stop", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
