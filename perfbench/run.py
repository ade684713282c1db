"""The repository's benchmark: the ``ingest`` + ``transform`` pipeline
and a subset of the operator registry, one workload per run.

    python3 perfbench/run.py --workload {pipeline,registry} \\
        --seed N --seconds S --trace {0,1} [--tiny]

Run from the repository root. One process, one Spark session at
``local[nproc]``, one closed-loop client: the next pass (or registry
row) starts when the previous one has finished. Set-up — imports, the
session, the workload's own set-up and its warm-up passes — is timed as
``setup_s``; then passes run until ``--seconds`` have been measured.

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones from spans around the benchmark's calls into each module
(see ``BENCHMARK.json``). Human-readable metrics, the run context and
the error rate are printed first; the last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. Results and
spans are also written to ``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import io
import json
import os
import random
import shutil
import statistics
import sys
import time
from dataclasses import dataclass
from functools import reduce

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")
WORK = os.path.join(ROOT, ".perfbench_work")

END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "cpu_us_per_item": "us",
    "shuffle_bytes_per_item": "B",
    "out_bytes_per_item": "B",
    "peak_rss_mb": "MB",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
}

# one registry row per module; the seed shuffles their order in each pass.
# Where a module has several rows, a cheap one is taken, and none that
# builds a served index (~20 s of set-up): a run times every row at least
# twice after a warm-up pass.
REGISTRY_ROWS = {  # heaviest first (the warm-up starts them in this order)
    "curation_pipeline": "plans.curate",
    "rq_rerank_topk": "operators.rq",
    "pq_topk": "operators.pq",
    "schema_derivation": "functions.schema_gen",
    "ivf_ann_topk": "operators.similarity",
    "retention_cohorts": "operators.temporal",
    "majority_semi_join": "operators.majority",
    "simhash": "operators.dedup",
    "multimodal_decode": "operators.multimodal",
    "window_tumbling": "streaming.events",
    "language_id": "operators.textstats",
    "pii_redact": "operators.textclean",
    "weighted_sample": "operators.sampling",
    "en_lang_remap": "functions.rdf",
}
TINY_ROWS = ("simhash", "en_lang_remap", "weighted_sample")
REGISTRY_TABLES = ("documents", "embeddings", "events")

SPAN_COUNTERS = {
    "wall_s": "s",
    "cpu_s": "s",
    "idle_core_s": "s",
    "jobs": "count",
    "tasks": "count",
    "failed_tasks": "count",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "gc_s": "s",
    "python_s": "s",
    "peak_exec_mem_mb": "MB",
}
LAYER_SPANS = ("session", "sources.ttl", "plans.ingest", "sources.parquet", "plans.transform")
MODULE_ROLLUPS = {
    "busy_s": "s",
    "build_s": "s",
    "jobs_per_item": "count",
    "eager_jobs_per_item": "count",
    "python_s": "s",
}
PER_LAYER = {
    **{f"{span}.{c}": u for span in LAYER_SPANS for c, u in SPAN_COUNTERS.items()},
    **{f"{m}.{r}": u for m in REGISTRY_ROWS.values() for r, u in MODULE_ROLLUPS.items()},
    "trace.overhead_s": "s",
}

N_SUBJECTS = 5_000  # ~102 k triples over 3 languages
TINY_SUBJECTS = 300


def _process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


PROCESS_START = time.perf_counter() - _process_age_s()


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (``statistics.quantiles`` inclusive)."""
    if len(values) == 1:
        return values[0]
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    return cuts[round(q * 100) - 1]


def dir_bytes(*paths: str) -> int:
    """Bytes of the data files under ``paths`` (no checksums or markers)."""
    total = 0
    for p in paths:
        for dirpath, _, files in os.walk(p):
            total += sum(
                os.path.getsize(os.path.join(dirpath, f))
                for f in files
                if not f.startswith((".", "_"))
            )
    return total


@dataclass
class Op:
    """One operation: a pipeline pass or a registry row execution.
    ``key`` names what was executed (``pass`` or the registry row), so
    repeated executions of the same thing can be summarised together."""

    key: str
    latency_s: float
    items: int
    ok: bool


class Meter:
    """Accumulates wall, process-tree CPU, Spark shuffle writes and peak
    RSS over the timed sections only (one section per timed pass)."""

    def __init__(self, store) -> None:
        self.store = store
        self.wall_s = 0.0
        self.section_cpu_s: list[float] = []
        self.shuffle_bytes = 0
        self.peak_rss_mb = 0.0
        self.steal_s = 0.0

    @contextlib.contextmanager
    def section(self):
        from perfbench import probes

        rss = probes.PeakRss()
        mark = self.store.mark()
        cpu0, steal0 = probes.tree_cpu_s(), probes.steal_s()
        rss.start()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.wall_s += time.perf_counter() - t0
            self.section_cpu_s.append(probes.tree_cpu_s() - cpu0)
            self.steal_s += probes.steal_s() - steal0
            self.peak_rss_mb = max(self.peak_rss_mb, rss.stop())
            self.shuffle_bytes += self.store.shuffle_write_bytes(mark)


class Pipeline:
    """One pass is the reference's two batch jobs back to back over the
    seeded corpus: ``plans.ingest.ingest`` (.ttl -> Parquet, stats
    read back as the CLI does) then ``plans.transform.transform``
    (Parquet -> RDF with the CLI's reference flags: types,
    ``--externalise-uris``, ``--remove-language-tags``, ``--top-k 100``,
    stats printed)."""

    warmups = 1
    min_passes = 1
    SINKS = (
        "labels", "infobox_properties", "interlanguage_links", "page_links",
        "article_categories", "skos_categories", "geo_coordinates", "external_ids", "types",
    )
    SCHEMAS = ("schema.dgraph", "schema.indexed.dgraph")

    def __init__(self, spark, tracer, work: str, seed: int, tiny: bool) -> None:
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.n_subjects = TINY_SUBJECTS if tiny else N_SUBJECTS
        self.ttl = os.path.join(work, "ttl")
        self.parquet = os.path.join(work, "parquet")
        self.rdf = os.path.join(work, "rdf")
        self.excluded_s = 0.0  # corpus generation and output checks
        self.stats = ""
        self.reference: dict | None = None

    def setup(self) -> None:
        from perfbench import corpus

        t0 = time.perf_counter()
        self.expected = corpus.generate(self.ttl, self.n_subjects, self.seed)
        self.triples = sum(self.expected.values())
        self.excluded_s += time.perf_counter() - t0

    def call(self, label: str) -> None:
        from dgraph_dbpedia_spark.plans.ingest import ingest
        from dgraph_dbpedia_spark.plans.transform import TransformConfig, transform

        with self.tracer.span("plans.ingest", label, "pass"):
            self.ingested = ingest(self.spark, self.ttl, self.parquet)
        cfg = TransformConfig(
            write_types=True,
            externalise_uris=True,
            remove_language_tags=True,
            top_infobox_properties_per_lang=100,
            print_stats=True,
        )
        # the printed stats are kept for the results file, not echoed
        stats = io.StringIO()
        with self.tracer.span("plans.transform", label, "pass"), contextlib.redirect_stdout(stats):
            transform(self.spark, self.parquet, self.rdf, cfg=cfg)
        self.stats = stats.getvalue()

    def run_pass(self, label: str, meter: Meter | None) -> list[Op]:
        t0 = time.perf_counter()
        try:
            with self.tracer.span("pass", label, counted=False):
                if meter is None:
                    self.call(label)
                else:
                    with meter.section():
                        self.call(label)
            latency = time.perf_counter() - t0
            self.layer_spans(label)
            t1 = time.perf_counter()
            ok = self.check(label)
            self.excluded_s += time.perf_counter() - t1
        except Exception as e:  # noqa: BLE001 — a failed pass is counted, not fatal
            print(f"{label}: {type(e).__name__}: {e}", file=sys.stderr)
            return [Op("pass", time.perf_counter() - t0, self.triples, False)]
        return [Op("pass", latency, self.triples, ok)]

    def layer_spans(self, label: str) -> None:
        """Traced runs only: a parse-only ``read_ttl`` of the corpus and
        a scan-only ``read_triples_parquet`` of the ingest output, each
        into ``noop``, outside the timed section."""
        if not self.tracer.enabled:
            return
        from dgraph_dbpedia_spark.sources.parquet import read_triples_parquet
        from dgraph_dbpedia_spark.sources.ttl import read_ttl

        paths = [
            os.path.join(self.ttl, lang, name)
            for lang in sorted(os.listdir(self.ttl))
            for name in sorted(os.listdir(os.path.join(self.ttl, lang)))
        ]
        with self.tracer.span("sources.ttl", label):
            read_ttl(self.spark, *paths).write.format("noop").mode("overwrite").save()
        with self.tracer.span("sources.parquet", label):
            for d in self.expected:
                path = os.path.join(self.parquet, f"{d}.parquet")
                read_triples_parquet(self.spark, path).write.format("noop").mode("overwrite").save()

    def read_counts(self) -> dict[str, int]:
        """Triples per dataset read back from the ingest output, one job."""
        from pyspark.sql import DataFrame, functions as F

        from dgraph_dbpedia_spark.sources.parquet import read_triples_parquet

        frames = [
            read_triples_parquet(self.spark, os.path.join(self.parquet, f"{d}.parquet")).select(F.lit(d).alias("d"))
            for d in self.expected
        ]
        rows = reduce(DataFrame.unionByName, frames).groupBy("d").count().collect()
        return {r["d"]: r["count"] for r in rows}

    def sink_digests(self) -> dict[str, tuple[int, str]]:
        """(lines, order-free content digest) per RDF sink, one job."""
        from pyspark.sql import DataFrame, functions as F

        frames = [
            self.spark.read.text(os.path.join(self.rdf, f"{s}.rdf")).select(
                F.lit(s).alias("sink"), F.xxhash64("value", F.col("lang").cast("string")).alias("h")
            )
            for s in self.SINKS
        ]
        rows = (
            reduce(DataFrame.unionByName, frames)
            .groupBy("sink")
            .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("h").cast("decimal(38,0)")).alias("d"))
            .collect()
        )
        return {r["sink"]: (r["n"], str(r["d"])) for r in rows}

    def check(self, label: str) -> bool:
        """Ingest: its read-back stats and an independent read-back both
        equal the generator's counts. Transform: per-sink counts and
        digests equal the run's first pass, every sink is non-empty and
        both schema files exist."""
        stats = {r.dataset: r.stats.get("triples") for r in self.ingested}
        counts = self.read_counts()
        digests = self.sink_digests()
        if self.reference is None:
            self.reference = digests
        checks = {
            "ingest_stats": stats == self.expected,
            "ingest_read_back": counts == self.expected,
            "sinks_nonempty": set(digests) == set(self.SINKS) and all(n > 0 for n, _ in digests.values()),
            "sinks_same_as_first_pass": digests == self.reference,
            "schemas": all(dir_bytes(os.path.join(self.rdf, s)) > 0 for s in self.SCHEMAS),
        }
        if not all(checks.values()):
            print(f"{label}: failed checks {[k for k, ok in checks.items() if not ok]}", file=sys.stderr)
        return all(checks.values())

    def out_bytes_per_item(self) -> float:
        """Parquet plus RDF.gz plus schema bytes per input triple."""
        paths = [self.parquet] + [os.path.join(self.rdf, f"{s}.rdf") for s in self.SINKS]
        paths += [os.path.join(self.rdf, s) for s in self.SCHEMAS]
        return dir_bytes(*paths) / self.triples


class Registry:
    """Registry rows over the fixed sf0.01 tables in ``perfbench/data``.
    A warm-up pass collects every row and checks it against its DuckDB
    ``oracle_sql()``; timed passes, one row at a time, write each row
    into the ``noop`` sink in a seeded order."""

    warmups = 1
    # every row is timed at least twice; a third pass (~14 s on 4 cores)
    # does not fit the benchmark's run budget
    min_passes = 2

    def __init__(self, spark, tracer, work: str, seed: int, tiny: bool) -> None:
        self.spark, self.tracer = spark, tracer
        self.rng = random.Random(seed)
        self.rows = list(TINY_ROWS if tiny else REGISTRY_ROWS)
        self.excluded_s = 0.0
        self.failed_rows: set[str] = set()
        self.result_bytes: dict[str, int] = {}
        self.stats = ""

    def setup(self) -> None:
        import __spark_entry__ as entry

        self.queries = entry.queries()

    def _oracle(self, row: str) -> list[tuple[str, ...]]:
        """Normalised oracle result, cached on disk per (row, SQL text,
        table bytes) so only the first run in a checkout pays for it."""
        import __spark_entry__ as entry

        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = DATA
        sql = entry.oracle_sql()[row]
        h = hashlib.sha256(f"{row}\n{sql}".encode())
        for t in REGISTRY_TABLES:
            with open(os.path.join(DATA, f"{t}.parquet"), "rb") as f:
                h.update(f.read())
        cache = os.path.join(WORK, "oracle-cache", f"{h.hexdigest()}.json")
        if os.path.exists(cache):
            with open(cache) as f:
                return [tuple(r) for r in json.load(f)]
        import duckdb

        from tools.check_correctness import norm_rows

        con = duckdb.connect()
        try:
            for t in REGISTRY_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
            res = con.execute(sql)
            out = norm_rows([d[0] for d in res.description], res.fetchall())
        finally:
            con.close()
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        tmp = f"{cache}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(out, f)
        os.replace(tmp, cache)
        return out

    def _execute(self, row: str, label: str, collect: bool):
        from dgraph_dbpedia_spark.operators.cachectl import release

        trace = f"{label}:{row}"
        with self.tracer.span(row, trace, counted=False):
            with self.tracer.span("build", trace, row):
                df = self.queries[row](self.spark, DATA)
            with self.tracer.span("action", trace, row):
                if collect:
                    result = (df.columns, df.collect())
                else:
                    df.write.format("noop").mode("overwrite").save()
                    result = None
        release(df)
        return result

    def warm_up(self, label: str) -> None:
        """Collect every row once and check it against its oracle. Rows
        run side by side, heaviest first (the order of ``REGISTRY_ROWS``),
        one thread per core: a cold pass one row at a time took ~30 s of
        the run budget on 4 cores. The checks run afterwards, outside
        set-up."""
        from concurrent.futures import ThreadPoolExecutor

        from tools.check_correctness import norm_rows

        with ThreadPoolExecutor(max_workers=len(os.sched_getaffinity(0))) as pool:
            results = list(pool.map(lambda row: self._warm(row, label), self.rows))
        t1 = time.perf_counter()
        for row, result in zip(self.rows, results):
            if result is None:
                self.failed_rows.add(row)
                continue
            got = norm_rows(*result)
            if got == self._oracle(row):
                self.result_bytes[row] = len(json.dumps(got))
            else:
                print(f"{row}: result differs from its oracle", file=sys.stderr)
                self.failed_rows.add(row)
        self.excluded_s += time.perf_counter() - t1

    def _warm(self, row: str, label: str):
        try:
            return self._execute(row, label, collect=True)
        except Exception as e:  # noqa: BLE001 — a failed row is counted, not fatal
            print(f"{label}:{row}: {type(e).__name__}: {e}", file=sys.stderr)
            return None

    def run_pass(self, label: str, meter: Meter | None) -> list[Op]:
        if meter is None:
            self.warm_up(label)
            return []
        order = self.rows[:]
        self.rng.shuffle(order)
        ops = []
        with meter.section():
            for row in order:
                t0 = time.perf_counter()
                try:
                    self._execute(row, label, collect=False)
                    ok = row not in self.failed_rows
                except Exception as e:  # noqa: BLE001 — a failed row is counted, not fatal
                    print(f"{label}:{row}: {type(e).__name__}: {e}", file=sys.stderr)
                    ok = False
                ops.append(Op(row, time.perf_counter() - t0, 1, ok))
        return ops

    def out_bytes_per_item(self) -> float:
        """Bytes of a row's normalised result, averaged over the rows that
        match their oracle. It is fixed by the data and the rows, so it
        moves only if a row's result changes."""
        return sum(self.result_bytes.values()) / max(len(self.result_bytes), 1)


WORKLOADS = {"pipeline": Pipeline, "registry": Registry}


def end_to_end(ops: list[Op], meter: Meter, setup_s: float, out_bytes: float) -> dict[str, float]:
    """End-to-end metrics from the timed operations. Latencies are
    first reduced to one median per key (the pipeline pass, or each
    registry row over its executions in the run), so a burst of host
    steal in one execution moves a median rather than the result, and a
    quantile never mixes executions of different rows:

    - ``latency_p50_s`` / ``latency_p90_s``: the p50 / p90 over keys of
      the per-key medians (the typical latency of the median and of the
      slow rows);
    - ``items_per_s``: the items of one pass over the sum of the
      per-key medians (a median pass of the closed loop);
    - ``cpu_us_per_item``: the median over passes of the pass's
      process-tree CPU, per item of a pass.
    """
    by_key: dict[str, list[Op]] = {}
    for op in ops:
        by_key.setdefault(op.key, []).append(op)
    medians = sorted(statistics.median(op.latency_s for op in v) for v in by_key.values())
    items_per_pass = sum(v[0].items for v in by_key.values())
    items = sum(op.items for op in ops)
    return {
        "setup_s": setup_s,
        "items_per_s": items_per_pass / sum(medians),
        "cpu_us_per_item": statistics.median(meter.section_cpu_s) / items_per_pass * 1e6,
        "shuffle_bytes_per_item": meter.shuffle_bytes / items,
        "out_bytes_per_item": out_bytes,
        "peak_rss_mb": meter.peak_rss_mb,
        "latency_p50_s": quantile(medians, 0.5),
        "latency_p90_s": quantile(medians, 0.9),
    }


def span_metrics(tracer, cores: int, passes: int) -> dict[str, float]:
    """Per-layer metrics from the traced timed passes: medians per span
    name; registry rows rolled up per module. Spans a workload does not
    run read 0."""
    by_name: dict[str, list] = {}
    for s in tracer.spans:
        if not s.trace.startswith("warmup"):
            by_name.setdefault(s.name, []).append(s)
    out = {name: 0.0 for name in PER_LAYER}
    for name in LAYER_SPANS:
        spans = by_name.get(name, [])
        if not spans:
            continue
        for c in SPAN_COUNTERS:
            if c == "wall_s":
                vals = [s.wall_s for s in spans]
            elif c == "idle_core_s":
                vals = [cores * s.wall_s - s.counters.run_s for s in spans]
            else:
                vals = [getattr(s.counters, c) for s in spans]
            out[f"{name}.{c}"] = statistics.median(vals)
    builds = {s.trace: s for s in by_name.get("build", [])}
    actions = {s.trace: s for s in by_name.get("action", [])}
    for module in set(REGISTRY_ROWS.values()):
        rows = [r for r, m in REGISTRY_ROWS.items() if m == module]
        execs = [s for r in rows for s in by_name.get(r, [])]
        if not execs:
            continue
        b = [builds[s.trace] for s in execs]
        a = [actions[s.trace] for s in execs]
        n = len(execs)
        out[f"{module}.busy_s"] = statistics.median(x.wall_s + y.wall_s for x, y in zip(b, a))
        out[f"{module}.build_s"] = statistics.median(s.wall_s for s in b)
        out[f"{module}.jobs_per_item"] = sum(x.counters.jobs + y.counters.jobs for x, y in zip(b, a)) / n
        out[f"{module}.eager_jobs_per_item"] = sum(x.counters.jobs for x in b) / n
        out[f"{module}.python_s"] = sum(x.counters.python_s + y.counters.python_s for x, y in zip(b, a)) / n
    out["trace.overhead_s"] = tracer.overhead_s / max(passes, 1)
    return out


def run_context(spark, args, cores: int, meter: Meter) -> dict:
    import subprocess

    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    h = hashlib.sha256()
    for dirpath, dirs, files in sorted(os.walk(os.path.join(ROOT, "dgraph_dbpedia_spark"))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(ROOT, "__spark_entry__.py"), "rb") as fh:
        h.update(fh.read())
    return {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": cores,
        "master": spark.sparkContext.master,
        "jvm_max_heap_mb": round(spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20),
        "machine_ram_mb": mem_kb // 1024,
        "commit": commit,
        "source_sha256": h.hexdigest(),
        "steal_s": round(meter.steal_s, 3),
        "trace": args.trace,
        "tiny": args.tiny,
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--tiny", action="store_true", help="smoke-test size")
    args = parser.parse_args(argv)

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # everything Spark, the JVM and Python workers write stays in the work dir
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
    })
    sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR

    try:
        from dgraph_dbpedia_spark.session import build_session
        from perfbench.probes import StatusStore, Tracer

        t0 = time.perf_counter()
        spark = build_session(
            app_name=f"perfbench-{args.workload}",
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        session_s = time.perf_counter() - t0
        try:
            spark.sparkContext.setLogLevel("ERROR")
            store = StatusStore(spark)
            tracer = Tracer(store, bool(args.trace))
            if tracer.enabled:  # the session span: no Spark work, wall only
                from perfbench.probes import Counters, Span

                tracer.spans.append(Span("session", "setup", None, t0, t0 + session_s, Counters()))
            wl = WORKLOADS[args.workload](spark, tracer, work, args.seed, args.tiny)
            wl.setup()
            for i in range(wl.warmups):
                wl.run_pass(f"warmup{i}", None)
            setup_s = time.perf_counter() - PROCESS_START - wl.excluded_s

            meter = Meter(store)
            ops: list[Op] = []
            passes = 0
            overhead0 = tracer.overhead_s
            while meter.wall_s < args.seconds or passes < wl.min_passes:
                ops += wl.run_pass(f"pass{passes}", meter)
                passes += 1
            tracer.overhead_s -= overhead0
            out_bytes = wl.out_bytes_per_item()
            context = run_context(spark, args, cores, meter)
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(ops)
    failed = sum(not op.ok for op in ops)
    e2e = end_to_end(ops, meter, setup_s, out_bytes)
    if args.trace:
        values, units = span_metrics(tracer, cores, passes), PER_LAYER
    else:
        values, units = e2e, END_TO_END

    print(f"# perfbench {args.workload}: seed {args.seed}, {passes} timed passes, "
          f"{attempted} operations, session {session_s:.2f} s")
    for k, v in e2e.items():
        print(f"{args.workload:10s} {k:24s} {v:14.4f} {END_TO_END[k]}")
    print(f"{args.workload:10s} {'error_rate':24s} {failed / attempted:14.4f} ratio")
    if args.trace:
        for k, v in values.items():
            print(f"{args.workload:10s} {k:48s} {v:14.4f} {units[k]}")
    print("# context " + json.dumps(context, sort_keys=True))

    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(f"{stem}.json", "w") as f:
        json.dump({"result": result, "end_to_end": e2e, "context": context,
                   "latencies_s": [[op.key, op.latency_s] for op in ops], "program_stats": wl.stats}, f, indent=1)
    if args.trace:
        with open(f"{stem}-spans.json", "w") as f:
            json.dump(tracer.dump(), f)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
