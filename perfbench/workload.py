"""One benchmark workload, run inside the child process that ``run.py``
starts. Writes one JSON result file; ``run.py`` prints the result line.

Every workload is a closed loop with a single client: the next operation
starts only when the previous one returned.

- ``batch_build``: one operation is the production
  ``jobs.build_kg_job.run`` over the seeded pages and alias dim,
  committing to fresh snapshot tables. The first operation after set-up
  is cold, as in a one-shot job.
- ``query_mix``: after a warm-up, one operation is a pass over nine
  registry leaves in a fixed interleaved order, each leaf's rows fetched
  to the client.

Usage (normally through run.py, which supplies the directories):
    python3 perfbench/workload.py --workload batch_build --seed 1 \
        --seconds 1 --trace 0 --work <dir> --cache <dir> --spans <file> \
        --result <file>
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

T_PROCESS = time.time()

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import inputs  # noqa: E402
import pyspark  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from tracing import SPAN_METRICS, Tracer, rollup  # noqa: E402

from biomedical_knowledge_graph_spark.jobs import build_kg_job  # noqa: E402
from biomedical_knowledge_graph_spark.queries import REGISTRY  # noqa: E402
from biomedical_knowledge_graph_spark.session import new_session  # noqa: E402

SIZES = {
    # build pages; query documents sampled from sf0.1, and the range the
    # seeded part-key prefix is drawn from
    "full": {"pages": 1000, "docs": 1000, "parts": (2900, 3100)},
    "tiny": {"pages": 120, "docs": 200, "parts": (280, 320)},
}

# the nine query_mix leaves, heavy and light interleaved; the span of each
# is named after the operator module the leaf exercises
LEAVES = (
    ("dedup_minhash_incremental", "dedup"),
    ("doc_bm25_topk", "retrieval"),
    ("dedup_minhash_lsh", "dedup"),
    ("kg_ancestor_closure", "closure"),
    ("dedup_simhash", "dedup"),
    ("kg_triples", "cooccurrence"),
    ("doc_remove_repeated_windows", "boilerplate"),
    ("kg_pagerank", "pagerank"),
    ("kg_triangles", "triangles"),
)
BUILD_SPANS = (
    "extraction",
    "mentions",
    "linking",
    "components",
    "cooccurrence",
    "sink.merge",
    "validation",
    "metrics",
)
CRAWL_SPANS = ("sink.delta", "sink.read_merged")
LEAF_SPANS = tuple(f"{module}.{name}" for name, module in LEAVES)
SKEW_SPANS = ("mentions", "cooccurrence")


def per_layer_catalog() -> list[tuple[str, str, str]]:
    """Every per-layer metric (name, unit, better), in print order."""
    out = []
    for span in BUILD_SPANS + CRAWL_SPANS + LEAF_SPANS:
        out += [(f"{span}.{m}", unit, better) for m, unit, better in SPAN_METRICS]
        if span in SKEW_SPANS:
            out.append((f"{span}.skew", "ratio", "lower"))
    out += [
        ("linking.link_ratio", "ratio", "higher"),
        ("trace.traced_build_s", "s", "lower"),
    ]
    return out


class Run:
    """Operation and check accounting for one workload run."""

    def __init__(self, args):
        self.args = args
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        # when the first timed operation started (epoch seconds)
        self.first_op_at: float | None = None
        # the warm-up calls op() from several threads
        self._lock = threading.Lock()

    def _fail(self, note: str) -> None:
        with self._lock:
            self.failed += 1
            self.notes.append(note)
        print(f"perfbench: {note}", file=sys.stderr)

    def op(self, what: str, fn):
        """Run one operation; a raise counts as a failed operation."""
        with self._lock:
            self.attempted += 1
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - counted and reported
            self._fail(f"{what}: {type(e).__name__}: {e}")
            return None

    def timing_starts(self) -> None:
        """Marks the start of a timed operation; set-up ends at the first."""
        if self.first_op_at is None:
            self.first_op_at = time.time()

    def check(self, what: str, ok: bool) -> None:
        """A failed output check counts as a failed operation."""
        with self._lock:
            self.attempted += 1
        if not ok:
            self._fail(f"check failed: {what}")


def start_session(work: str, trace: bool):
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # keep the JVM's temp files (and no hsperfdata) out of /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{events}",
                # Spark 4 defaults to zstd, whose Python module is absent
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return new_session(
        "perfbench", master=f"local[{os.cpu_count()}]", extra_conf=conf
    )


def write_inputs(spark, workload: str, root: str, size: dict, seed: int) -> dict:
    if workload == "batch_build":
        paths = inputs.write_build_inputs(root, size["pages"], seed)
        spark.read.parquet(paths["pages"]).count()
        spark.read.parquet(paths["dim"]).count()
        return paths
    sf_dir = inputs.write_query_inputs(
        os.path.join(root, "sf"), size["docs"], size["parts"], seed
    )
    spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).count()
    return {"sf_dir": sf_dir}


def set_up(args, size, trace: bool):
    """The session and the inputs; returns both."""
    spark = start_session(args.work, trace)
    paths = write_inputs(
        spark, args.workload, os.path.join(args.work, "inputs"), size, args.seed
    )
    return spark, paths


# -- batch_build ---------------------------------------------------------------
def committed_triples(spark, out_root: str):
    from biomedical_knowledge_graph_spark.sinks.table_format import SnapshotTable

    table = SnapshotTable(
        os.path.join(out_root, "triples"), key_cols=["subj", "pred", "obj"]
    )
    return table.read(spark).select(*checks.TRIPLE_COLS)


def build_once(run: Run, spark, paths: dict, out_root: str, run_id: str):
    """One production build; returns (seconds, report, digest) or None."""
    run.timing_starts()
    t0 = time.perf_counter()
    report = run.op(
        f"build {run_id}",
        lambda: build_kg_job.run(
            spark, paths["pages"], paths["dim"], out_root, run_id
        ),
    )
    secs = time.perf_counter() - t0
    if report is None:
        return None
    run.check(f"{run_id} validation report passes", report["validation"]["passed"])
    rows = committed_triples(spark, out_root).collect()
    added = report["lineage"]["triples"][0]["rows_added"]
    run.check(f"{run_id} committed rows == rows_added", len(rows) == added > 0)
    shutil.rmtree(out_root, ignore_errors=True)
    return secs, report, checks.digest(rows)


def batch_build(run: Run, spark, paths: dict, seconds: float) -> dict:
    out = os.path.join(run.args.work, "out")
    reps = []
    t_start = time.perf_counter()
    while not reps or time.perf_counter() - t_start < seconds:
        r = build_once(run, spark, paths, f"{out}/rep{len(reps)}", f"rep{len(reps)}")
        if r is None:
            break
        reps.append(r)
    # every rep's committed triples must equal the reference
    digests = {r[2] for r in reps}
    ref = run.op("ac reference build", lambda: ac_reference(spark, paths))
    run.check("token_join triples == mention_strategy='ac' triples", digests == {ref})
    if not reps:
        return {}
    build_s = statistics.median(r[0] for r in reps)
    triples = reps[0][1]["lineage"]["triples"][0]["rows_added"]
    return {
        "op_s": build_s,
        "rows_per_s": triples / build_s,
        "_samples": len(reps),
        "_rows": triples,
    }


def ac_reference(spark, paths: dict) -> str:
    from biomedical_knowledge_graph_spark.plans.pipeline import build_kg

    res = build_kg(
        spark,
        spark.read.parquet(paths["pages"]),
        spark.read.parquet(paths["dim"]),
        min_cooccur=3,
        mention_strategy="ac",
    )
    try:
        return checks.digest(res.triples.select(*checks.TRIPLE_COLS).collect())
    finally:
        res.links.unpersist()


# -- query_mix -----------------------------------------------------------------
def query_pass(run: Run, spark, sf_dir: str, tracer=None):
    """One pass over the leaves, each leaf's rows fetched to the client and
    checked against its oracle; returns ({leaf: seconds}, rows) or None."""
    times, rows = {}, 0
    for name, module in LEAVES:
        run.timing_starts()
        t0 = time.perf_counter()
        with tracer.span(f"{module}.{name}") if tracer else nullcontext():
            got = run.op(name, lambda name=name: REGISTRY[name].fn(spark, sf_dir).toPandas())
        times[name] = time.perf_counter() - t0
        if got is None:
            return None
        verdict = run.op(
            f"{name} oracle",
            lambda: checks.oracle_verdict(name, got, sf_dir, run.args.cache),
        )
        run.check(f"{name} equals its DuckDB oracle ({verdict})", verdict == "OK")
        rows += len(got)
    return times, rows


def warm_up(run: Run, spark, sf_dir: str, threads: int = 3) -> float:
    """Run every leaf once, forced with the noop sink, a few at a time:
    JIT, plan code generation and Python workers are warm afterwards.
    Returns the seconds it took."""
    def force(name):
        REGISTRY[name].fn(spark, sf_dir).write.mode("overwrite").format("noop").save()

    t0 = time.perf_counter()
    with ThreadPoolExecutor(threads) as pool:
        futures = [
            pool.submit(run.op, f"warm-up {name}", lambda name=name: force(name))
            for name, _ in LEAVES
        ]
        for f in futures:
            f.result()
    return time.perf_counter() - t0


def query_mix(run: Run, spark, paths: dict, seconds: float) -> dict:
    warm_s = warm_up(run, spark, paths["sf_dir"])
    passes = []
    t_start = time.perf_counter()
    while not passes or time.perf_counter() - t_start < seconds:
        p = query_pass(run, spark, paths["sf_dir"])
        if p is None:
            break
        passes.append(p)
    if not passes:
        return {}
    pass_s = statistics.median(sum(t.values()) for t, _ in passes)
    leaf_median = {
        name: round(statistics.median(t[name] for t, _ in passes), 4)
        for name, _ in LEAVES
    }
    print(f"perfbench: leaf seconds {json.dumps(leaf_median)}", file=sys.stderr)
    return {
        "_warm_up_s": warm_s,
        "op_s": pass_s,
        "rows_per_s": passes[0][1] / pass_s,
        "_samples": len(passes),
        "_rows": passes[0][1],
    }


# -- traced runs -----------------------------------------------------------------
def _materialize(df):
    df = df.persist()
    df.count()
    return df


def staged_build(run: Run, spark, tracer: Tracer, paths: dict, out_root: str):
    """``build_kg_job.run`` with each stage's input materialized before the
    next stage's call is timed; the stages are build_kg's own calls, in
    its order, with its arguments for the default token_join strategy.
    Returns (digest of the committed triples, link_ratio)."""
    from biomedical_knowledge_graph_spark.operators.cooccurrence import (
        cooccurrence_edges,
    )
    from biomedical_knowledge_graph_spark.operators.extraction import extract_pages
    from biomedical_knowledge_graph_spark.operators.linking import (
        link_mentions,
        resolve_obsolete,
    )
    from biomedical_knowledge_graph_spark.operators.mentions import (
        scan_mentions_token_join,
    )
    from biomedical_knowledge_graph_spark.plans import validation as V
    from biomedical_knowledge_graph_spark.plans.metrics import collect_all_metrics
    from biomedical_knowledge_graph_spark.plans.pipeline import alias_component_map
    from biomedical_knowledge_graph_spark.sinks.table_format import SnapshotTable

    pinned = []

    def mat(df):
        pinned.append(_materialize(df))
        return pinned[-1]

    pages = spark.read.parquet(paths["pages"])
    entity_dim = spark.read.parquet(paths["dim"])
    triples_sink = SnapshotTable(
        os.path.join(out_root, "triples"),
        key_cols=["subj", "pred", "obj"],
        bucket_expr="pmod(xxhash64(subj), 16)",
        compact_after=16,
    )
    nodes_sink = SnapshotTable(
        os.path.join(out_root, "nodes"),
        key_cols=["entity_id"],
        bucket_expr="pmod(xxhash64(entity_id), 16)",
        compact_after=16,
    )
    try:
        with tracer.span("extraction"):
            docs = mat(extract_pages(pages).filter(F.length("text") > 0))
        with tracer.span("linking"):
            dim_current = mat(resolve_obsolete(entity_dim))
        with tracer.span("mentions"):
            mentions = mat(
                scan_mentions_token_join(
                    docs, dim_current, id_col="url", text_col="text"
                )
            )
        with tracer.span("linking"):
            linked = mat(
                link_mentions(mentions, dim_current, id_col="url").filter(
                    F.col("canonical_id").isNotNull()
                )
            )
        link_ratio = linked.count() / max(1, mentions.count())
        with tracer.span("components"):
            comp_map = mat(alias_component_map(dim_current))
            links = mat(
                linked.join(F.broadcast(comp_map), "canonical_id")
                .select(
                    F.col("url").alias("doc_id"),
                    F.col("resolved_id").alias("entity_id"),
                    "entity_type",
                )
                .distinct()
            )
        nodes = links.groupBy("entity_id").agg(
            F.min("entity_type").alias("entity_type"),
            F.countDistinct("doc_id").alias("doc_count"),
        )
        co_decision: dict = {}
        with tracer.span("cooccurrence"):
            co = cooccurrence_edges(
                links,
                doc_col="doc_id",
                ent_col="entity_id",
                min_count=3,
                pair_parallelism="auto",
                encode_ids=True,
                prune_rare="auto",
                decision_log=co_decision,
                input_distinct=True,
            )
            triples = mat(
                co.select(
                    F.col("subj"),
                    F.lit("CO_OCCURS_WITH").alias("pred"),
                    F.col("obj"),
                    F.col("shared_docs").alias("weight"),
                    F.col("confidence"),
                )
            )
        with tracer.span("sink.merge"):
            triples_sink.merge_append(
                triples, run_id="staged", extra_lineage={"cooccurrence": co_decision}
            )
            nodes_sink.merge_append(nodes, run_id="staged")
        nodes_df, triples_df = nodes_sink.read(spark), triples_sink.read(spark)
        with tracer.span("validation"):
            vreport = V.ValidationReport()
            V.validate_non_empty(nodes_df, "nodes", vreport)
            V.validate_non_empty(triples_df, "triples", vreport)
            V.validate_referential_integrity(
                triples_df, nodes_df, ["subj", "obj"], "entity_id", vreport
            )
        run.check("staged validation report passes", vreport.passed)
        with tracer.span("metrics"):
            collect_all_metrics(nodes_df, triples_df)
        rows = triples_df.select(*checks.TRIPLE_COLS).collect()
        return checks.digest(rows), link_ratio
    finally:
        for df in pinned:
            df.unpersist()


def staged_increments(run: Run, spark, tracer: Tracer, paths: dict, root: str, k=2):
    """The corpus as ``k`` disjoint crawl increments, each staged like
    ``build_kg_increment`` with its ``delta_append`` in ``sink.delta``;
    one committed run_id is replayed; the published view is forced in
    ``sink.read_merged``. Returns the digest of the published triples."""
    from biomedical_knowledge_graph_spark.plans.pipeline import (
        build_kg,
        published_triples,
    )
    from biomedical_knowledge_graph_spark.sinks.table_format import (
        AggregatingSnapshotTable,
    )

    pages = spark.read.parquet(paths["pages"])
    dim = spark.read.parquet(paths["dim"])
    table = AggregatingSnapshotTable(
        root,
        key_cols=["subj", "obj"],
        agg_spec={"weight": "sum"},
        bucket_expr="pmod(xxhash64(subj), 8)",
        compact_after=k,
    )
    first_partial = None
    for i in range(k):
        batch = pages.filter(F.pmod(F.xxhash64("url"), F.lit(k)) == i)
        res = build_kg(
            spark, batch, dim, min_cooccur=1, run_id=f"inc-{i}", prune_rare=False
        )
        partial = _materialize(res.triples.select("subj", "obj", "weight"))
        with tracer.span("sink.delta"):
            table.delta_append(partial, run_id=f"inc-{i}")
        res.links.unpersist()
        if i == 0:
            first_partial = partial
        else:
            partial.unpersist()
    with tracer.span("sink.delta"):
        replay = table.delta_append(first_partial, run_id="inc-0")
    first_partial.unpersist()
    run.check("replayed increment adds 0 rows", replay["rows_added"] == 0)
    with tracer.span("sink.read_merged"):
        rows = published_triples(spark, table, min_cooccur=3).collect()
    return checks.digest(rows)


def traced(run: Run, spark, paths: dict) -> dict:
    """Per-layer metrics from one traced run, in a session with the event
    log on from the start; layers the workload does not call report zero.

    batch_build first runs the production build, the first operation after
    set-up as in untraced runs: ``trace.traced_build_s`` against the
    untraced ``op_s`` is the tracing overhead. The staged build and the
    crawl increments follow, so their spans are taken warm. query_mix
    warms up as its untraced runs do and traces one pass."""
    values = {name: 0.0 for name, _, _ in per_layer_catalog()}
    work = run.args.work
    tracer = Tracer(spark)
    batch = run.args.workload == "batch_build"
    if batch:
        out = f"{work}/out"
        build = build_once(run, spark, paths, f"{out}/traced", "traced")
        staged = run.op(
            "staged build",
            lambda: staged_build(run, spark, tracer, paths, f"{out}/staged"),
        )
        crawl = run.op(
            "staged increments",
            lambda: staged_increments(run, spark, tracer, paths, f"{out}/crawl"),
        )
        ref = build[2] if build else None
        run.check("staged build triples == production build triples",
                  staged is not None and staged[0] == ref)
        run.check("published increments == batch build triples", crawl == ref)
        if build:
            values["trace.traced_build_s"] = build[0]
        if staged:
            values["linking.link_ratio"] = staged[1]
    else:
        warm_up(run, spark, paths["sf_dir"])
        query_pass(run, spark, paths["sf_dir"], tracer=tracer)
    tracer.write(run.args.spans)
    spark.stop()
    events = os.path.join(work, "events")
    rolled = run.op(
        "event log roll-up",
        lambda: rollup(events, tracer.spans, skew_spans=SKEW_SPANS),
    ) or {}
    # a span the workload calls must have run Spark jobs under its group;
    # a zero here means the attribution broke, not that the layer is free
    for span in BUILD_SPANS + CRAWL_SPANS if batch else LEAF_SPANS:
        run.check(f"span {span} attributed at least one job",
                  rolled.get(span, {}).get("jobs", 0) >= 1)
    for span, row in rolled.items():
        for metric, value in row.items():
            key = f"{span}.{metric}"
            if key in values:
                values[key] = value
    return values


def stop_jvm() -> None:
    """End the JVM and reap it here: it exits when its stdin closes, and if
    this process exited first, the JVM would linger as an orphan until
    init reaped it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("batch_build", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--size", choices=tuple(SIZES), default="full")
    ap.add_argument("--work", required=True)
    ap.add_argument("--cache", required=True)
    ap.add_argument("--spans", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--t0", type=float, default=T_PROCESS,
                    help="epoch seconds at which the run started")
    args = ap.parse_args(argv)
    size = SIZES[args.size]
    run = Run(args)
    spark = None
    try:
        if args.trace:
            spark, paths = set_up(args, size, trace=True)
            metrics = traced(run, spark, paths)
            units = {n: u for n, u, _ in per_layer_catalog()}
        else:
            spark, paths = set_up(args, size, trace=False)
            body = batch_build if args.workload == "batch_build" else query_mix
            measured = body(run, spark, paths, args.seconds)
            metrics = {k: v for k, v in measured.items() if not k.startswith("_")}
            if run.first_op_at is not None:
                # everything before the first timed operation: interpreter
                # and JVM start, inputs and (query_mix) the warm-up
                metrics["setup_s"] = run.first_op_at - args.t0
            units = {"setup_s": "s", "op_s": "s", "rows_per_s": "rows/s"}
            print(
                f"perfbench: {args.workload} setup_s={metrics.get('setup_s')}"
                f" warm_up={measured.get('_warm_up_s')}"
                f" samples={measured.get('_samples')} rows={measured.get('_rows')}",
                file=sys.stderr,
            )
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
    result = {
        "attempted": max(1, run.attempted),
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        "notes": run.notes,
        "context": {
            "pyspark": pyspark.__version__,
            "size": args.size,
        },
    }
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
