"""End-to-end benchmark of niamoto_spark: the ``niamoto run`` pipeline
(import -> transform -> export) on generated projects, and the headline
operator queries on generated star-schema tables.

Run from the repository root:

    python3 perfbench/run.py --workload site_small --seed 1 --seconds 10 \
        --trace 0

Workloads: ``site_small``, ``site_large``, ``headline_queries``
(see BENCHMARK.json and perfbench/README.md).  The last stdout line is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``.  The line before it is the full run record, which is
also written under ``.perfbench/records/``.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("site_small", "site_large", "headline_queries")
MIN_SITE_TRACED = 2      # traced iterations, so counters can be compared
MIN_HEADLINE_TRACED = 2
MIN_PASSES = 4           # measured headline passes per run
# bench.py's session for the headline queries (its data-size tuning)
HEADLINE_CONF = {"spark.sql.shuffle.partitions": "8",
                 "spark.sql.adaptive.enabled": "false"}
REQUIRED = ("niamoto_spark/pipeline.py", "niamoto_spark/session.py",
            "bench.py", "__spark_entry__.py", "examples/config/import.yml",
            "examples/config/transform.yml", "examples/config/export.yml",
            "examples/config/provinces.gpkg")
EXPORT_TARGETS = {"site": ("niamoto_spark.exporters.json_api",
                           "export_json_api", 2),
                  "site_html": ("niamoto_spark.exporters.html_site",
                                "export_html_site", 2),
                  "dwca": ("niamoto_spark.exporters.dwc_archive",
                           "export_dwc_archive", 1)}


# ---------------------------------------------------------------------------
# environment
# ---------------------------------------------------------------------------

def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(root: str, work: str) -> None:
    """Fixed, self-contained process environment, set before Spark starts:
    the Python workers must import niamoto_spark, and every scratch file
    stays under the checkout."""
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(root, p))]
    if missing:
        raise SystemExit(f"perfbench: run from a niamoto_spark checkout; "
                         f"missing {', '.join(missing)}")
    tmp = os.path.join(work, "tmp")
    local = os.path.join(root, ".perfbench", "spark-local")
    for d in (tmp, local):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + old if old else "")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    sys.path.insert(0, root)


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def steal_seconds() -> float:
    """CPU time the hypervisor has taken from this machine since boot,
    summed over its CPUs (the ``steal`` field of /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


class PeakRss:
    """Peak summed RSS of this process and all its descendants (the JVM
    and the Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    def _run(self):
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        self.peak_bytes = max(self.peak_bytes, total)


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------

def warm_up(spark) -> None:
    """Scan, shuffle, broadcast join, window and the Python worker pool,
    on generated rows: what the first query of a session pays once."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    a = spark.range(20_000).withColumn("k", F.col("id") % 7)
    b = spark.range(7).withColumnRenamed("id", "k")
    (a.join(F.broadcast(b), "k").groupBy("k").count()
      .withColumn("r", F.row_number().over(
          Window.partitionBy("k").orderBy("count")))
      .count())
    a.mapInPandas(lambda it: it, schema=a.schema).count()


def start_session(app: str, conf: dict | None):
    """(spark, session start seconds, warm-up seconds).  The benchmark's
    set-up is the first call, which also launches the JVM, as a one-shot
    ``niamoto_spark run`` does."""
    from niamoto_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app, extra_conf=conf)
    t1 = time.perf_counter()
    warm_up(spark)
    return spark, t1 - t0, time.perf_counter() - t1


def traced_session(spark, app: str, conf: dict | None, work: str):
    """Replace ``spark`` by a session that writes an uncompressed event
    log under ``work``; returns (session, log dir)."""
    spark.stop()
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    spark, _, _ = start_session(app, {
        **(conf or {}), "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": "file://" + log_dir})
    return spark, log_dir


def _spans(tracer):
    """``tracer.span``, or a no-op context when the run is untraced."""
    return tracer.span if tracer else (
        lambda *a, **k: contextlib.nullcontext())


def stop_jvm() -> None:
    """Close the gateway JVM's stdin, which it takes as its signal to
    exit, and wait for it; the Python workers end with it."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.poll() is None:
        proc.stdin.close()
        proc.wait(timeout=60)


def session_conf(spark) -> dict:
    return dict(sorted(spark.sparkContext.getConf().getAll()))


# ---------------------------------------------------------------------------
# site workloads
# ---------------------------------------------------------------------------

class Site:
    """One generated project, run through Pipeline exactly as
    ``python -m niamoto_spark run`` does, phase by phase."""

    def __init__(self, project: str, work: str):
        import yaml

        from oracles import PLOT_WIDGETS, SiteOracle

        self.project = project
        self.work = work
        self.cfg = {}
        for phase in ("import", "transform", "export"):
            with open(os.path.join(project, f"{phase}.yml")) as f:
                self.cfg[phase] = yaml.safe_load(f)
        self.groups = [g["group_by"] for g in self.cfg["transform"]]
        self.oracle = SiteOracle(project)
        # every operation a pipeline run attempts and the checks judge
        self.ops = (["import", "transform", "export"]
                    + [f"plots.{w}" for w in PLOT_WIDGETS]
                    + ["taxons.dbh_summary"] + list(EXPORT_TARGETS))

    def iteration(self, spark, tracer=None) -> dict:
        from niamoto_spark.pipeline import Pipeline

        wh = os.path.join(self.work, "warehouse")
        out = os.path.join(self.work, "out")
        for d in (wh, out):
            shutil.rmtree(d, ignore_errors=True)
        span = _spans(tracer)
        errors: dict[str, str] = {}
        rows: dict[str, int] = {}
        manifests: dict = {}
        pipe = Pipeline(spark, warehouse=wh)
        t = [time.perf_counter()]
        with span("iteration") as it_span:
            with span("import"):
                try:
                    pipe.run_import(self.cfg["import"],
                                    base_dir=self.project)
                except Exception as e:  # noqa: BLE001 - counted as failed
                    errors["import"] = repr(e)
            t.append(time.perf_counter())
            with span("transform"):
                for g in self.groups:
                    with span(f"transform.{g}"):
                        try:
                            res = pipe.run_transform(self.cfg["transform"],
                                                     group_by=g)
                            # the CLI prints each group's row count
                            rows[g] = res[g].count()
                        except Exception as e:  # noqa: BLE001
                            errors["transform"] = repr(e)
            t.append(time.perf_counter())
            with span("export"):
                try:
                    manifests = pipe.run_export(self.cfg["export"],
                                                out_dir=out)
                except Exception as e:  # noqa: BLE001
                    errors["export"] = repr(e)
            t.append(time.perf_counter())
        # --- checks, outside the timed span ---------------------------------
        for w in pipe.warnings:
            # "widget <group>.<name> (<plugin>): <error>"
            errors[w.split()[1]] = w
        for op, problem in {**self.oracle.check_transform(wh),
                            **self.oracle.check_export(manifests, out)
                            }.items():
            if problem:
                errors.setdefault(op, problem)
        rec = {"import_s": t[1] - t[0], "transform_s": t[2] - t[1],
               "export_s": t[3] - t[2], "run_s": t[3] - t[0],
               "rows_out": rows, "errors": errors,
               "widgets_failed": sum(1 for op in errors if "." in op
                                     and op.split(".")[0] in self.groups),
               "attempted": len(self.ops), "failed": len(errors)}
        if tracer is not None:
            rec["span"] = it_span
            rec["files"] = _export_files(tracer, it_span)
        return rec


def _export_files(tracer, it_span) -> dict[str, tuple[int, int]]:
    """(files, bytes) each export target wrote in this iteration."""
    out = {}
    for s in tracer.subtree(it_span):
        if s.name.startswith("export.") and "path" in s.attrs:
            path, n, size = s.attrs["path"], 0, 0
            if os.path.isfile(path):
                n, size = 1, os.path.getsize(path)
            for d, _, files in os.walk(path):
                n += len(files)
                size += sum(os.path.getsize(os.path.join(d, f))
                            for f in files)
            out[s.name[len("export."):]] = (n, size)
    return out


def install_site_spans(tracer) -> list:
    """Spans around the layer functions as ``pipeline`` resolves them."""
    import importlib

    import niamoto_spark.pipeline as P
    import niamoto_spark.sources.files as SF

    undo = [tracer.wrap(P, "read_csv_auto", "import.read"),
            tracer.wrap(SF, "read_vector", "import.read"),
            tracer.wrap(P, "derive_hierarchy", "import.hierarchy"),
            tracer.wrap(P, "overwrite_table", "write")]
    # run_export imports each exporter when it runs, so the module
    # attribute is what it resolves
    for target, (mod, fn, path_arg) in EXPORT_TARGETS.items():
        undo.append(tracer.wrap(importlib.import_module(mod), fn,
                                f"export.{target}", path_arg))
    return undo


def run_site(args, root: str, work: str) -> tuple[list, dict, dict]:
    """The measured pipeline run is the first one after set-up: like
    ``python -m niamoto_spark run``, it pays the JVM's cold code paths.
    Runs repeated until ``--seconds`` have passed are kept in the record
    as warm ``repeats``."""
    import sitegen

    shape = sitegen.SMALL if args.workload == "site_small" else sitegen.LARGE
    site = Site(sitegen.make_project(os.path.join(work, "project"), shape,
                                     args.seed,
                                     os.path.join(root, "examples/config")),
                work)
    spark, *setup = start_session("niamoto_spark_cli", None)
    conf = session_conf(spark)
    iters = {"measured": [], "repeats": []}
    with PeakRss() as rss:
        t0 = time.perf_counter()
        iters["measured"].append(site.iteration(spark))
    while time.perf_counter() - t0 < args.seconds:
        iters["repeats"].append(site.iteration(spark))
    traced = None
    if args.trace:
        if not iters["repeats"]:
            # a warm untraced baseline for the tracing overhead
            iters["repeats"].append(site.iteration(spark))
        traced = trace_site(spark, site, args, work)
    else:
        spark.stop()
    return setup, iters, {"conf": conf, "peak_rss_mb": rss.peak_bytes / 2**20,
                           "traced": traced}


def trace_site(spark, site: Site, args, work: str) -> dict:
    from tracing import EventLog, Tracer

    spark, log_dir = traced_session(spark, "niamoto_spark_cli", None, work)
    tracer = Tracer(spark, run_id=f"{args.workload}-{args.seed}")
    undo = install_site_spans(tracer)
    iters = []
    try:
        t0 = time.perf_counter()
        while len(iters) < MIN_SITE_TRACED or \
                time.perf_counter() - t0 < args.seconds:
            rec = site.iteration(spark, tracer)
            rec["counts"] = {s.name: tracer.job_counts(s)
                             for s in tracer.subtree(rec["span"])
                             if s.name in ("import", "transform", "export")
                             or s.name.startswith(("transform.", "export."))}
            iters.append(rec)
    finally:
        for u in undo:
            u()
        spark.stop()
    return {"tracer": tracer, "log": EventLog(log_dir), "iters": iters}


# ---------------------------------------------------------------------------
# headline queries
# ---------------------------------------------------------------------------

class Headline:
    """The HEADLINE queries of bench.py over generated tables, each result
    materialized in full (noop write) and checked against its oracle."""

    def __init__(self, tables: str):
        import duckdb

        import __spark_entry__ as entry
        from bench import HEADLINE

        self.tables = tables
        self.names = list(HEADLINE)
        self.fns = entry.queries()
        oracles = entry.oracle_sql()
        self.expected: dict[str, tuple[list, list, str]] = {}
        con = duckdb.connect()
        try:
            for t in os.listdir(tables):
                con.execute(f"CREATE VIEW {t.split('.')[0]} AS SELECT * "
                            f"FROM '{os.path.join(tables, t)}'")
            for q in self.names:
                if q in oracles:
                    res = con.execute(oracles[q])
                    self.expected[q] = ([d[0] for d in res.description],
                                        res.fetchall(), oracles[q])
            # q38 has no oracle: every document below id 200 pairs with its
            # planted copy (id + 100000) and nothing else clears 0.1 Jaccard
            self.q38_ids = {r[0] for r in con.execute(
                "SELECT doc_id FROM documents WHERE doc_id < 200 AND "
                "len(string_split(trim(text), ' ')) >= 3").fetchall()}
        finally:
            con.close()

    def run_pass(self, spark, tracer=None) -> dict:
        span = _spans(tracer)
        times, errors = {}, {}
        t0 = time.perf_counter()
        with span("headline") as pass_span:
            for q in self.names:
                spark.catalog.clearCache()
                with span(f"query.{q}"):
                    tq = time.perf_counter()
                    try:
                        (self.fns[q](spark, self.tables).write
                         .format("noop").mode("overwrite").save())
                    except Exception as e:  # noqa: BLE001
                        errors[q] = repr(e)
                    times[q] = time.perf_counter() - tq
        rec = {"run_s": time.perf_counter() - t0, "query_s": times,
               "errors": errors, "attempted": len(self.names),
               "failed": len(errors)}
        if tracer is not None:
            rec["span"] = pass_span
        return rec

    def check(self, spark) -> dict:
        """Collect every result (untimed) and compare with its oracle."""
        from oracles import compare_rows

        errors = {}
        for q in self.names:
            try:
                df = self.fns[q](spark, self.tables)
                cols, rows = df.columns, [tuple(r) for r in df.collect()]
            except Exception as e:  # noqa: BLE001
                errors[q] = repr(e)
                continue
            if q in self.expected:
                ocols, orows, sql = self.expected[q]
                problem = compare_rows(rows, cols, orows, ocols, sql)
            else:
                pairs = {(r[0], r[1]) for r in rows}
                want = {(i, i + 100_000) for i in self.q38_ids}
                problem = None if pairs == want and len(rows) == len(want) \
                    else f"{len(rows)} pairs, want {len(want)} planted pairs"
            if problem:
                errors[q] = problem
        return {"errors": errors, "attempted": len(self.names),
                "failed": len(errors)}


def run_headline(args, root: str, work: str) -> tuple[list, dict, dict]:
    import tablegen

    hl = Headline(tablegen.make_tables(os.path.join(work, "tables"),
                                       args.seed))
    spark, *setup = start_session("bench", HEADLINE_CONF)
    conf = session_conf(spark)
    # the checked pass (every result collected) also warms the JVM up
    iters = {"checks": [hl.check(spark)], "measured": []}
    with PeakRss() as rss:
        t0 = time.perf_counter()
        while len(iters["measured"]) < MIN_PASSES or \
                time.perf_counter() - t0 < args.seconds:
            iters["measured"].append(hl.run_pass(spark))
    traced = None
    if args.trace:
        traced = trace_headline(spark, hl, args, work)
    else:
        spark.stop()
    return setup, iters, {"conf": conf, "peak_rss_mb": rss.peak_bytes / 2**20,
                           "traced": traced}


def trace_headline(spark, hl: Headline, args, work: str) -> dict:
    from tracing import EventLog, Tracer

    spark, log_dir = traced_session(spark, "bench", HEADLINE_CONF, work)
    tracer = Tracer(spark, run_id=f"{args.workload}-{args.seed}")
    iters = []
    try:
        t0 = time.perf_counter()
        while len(iters) < MIN_HEADLINE_TRACED or \
                time.perf_counter() - t0 < args.seconds:
            iters.append(hl.run_pass(spark, tracer))
    finally:
        spark.stop()
    return {"tracer": tracer, "log": EventLog(log_dir), "iters": iters}


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def _median(xs) -> float:
    return float(statistics.median(xs))


def end_to_end(setup, iters) -> dict:
    """The gated metrics, which every workload reports.  ``run_s`` of
    ``headline_queries`` is a pass made of each query's median time over
    the measured passes; on ``site_*`` it is the one measured run."""
    measured = iters["measured"]
    if "query_s" in measured[0]:
        run_s = sum(_median([r["query_s"][q] for r in measured])
                    for q in measured[0]["query_s"])
    else:
        run_s = _median([r["run_s"] for r in measured])
    return {"setup_s": {"value": sum(setup), "unit": "s"},
            "run_s": {"value": run_s, "unit": "s"}}


def reported_metrics(iters, extra) -> dict:
    """Printed and recorded, not gated: the phases exist on ``site_*``
    only, and the JVM's heap sizing moves the peak RSS by a quarter
    between identical runs."""
    measured = iters["measured"]
    out = {"peak_rss_mb": {"value": extra["peak_rss_mb"], "unit": "MB"}}
    if "import_s" in measured[0]:
        out.update({k: {"value": _median([r[k] for r in measured]),
                        "unit": "s"}
                    for k in ("import_s", "transform_s", "export_s")})
    return out


def _spark_span_metrics(prefix, tracer, log, span) -> dict:
    from tracing import SPARK_METRICS

    groups = [s.group for s in tracer.subtree(span)]
    tot = log.totals(groups)
    out = {f"{prefix}.{k}": tot[k] for k in SPARK_METRICS}
    out[f"{prefix}.driver_only_s"] = span.seconds - log.job_seconds(
        groups, span.start, span.end)
    return out


def per_layer_names(groups=("plots", "taxons")) -> list[str]:
    from bench import HEADLINE

    from tracing import CENSUS, SPARK_METRICS

    names = ["session.start_s", "session.warmup_s"]
    names += [f"import.{k}" for k in ("read_s", "hierarchy_s", "write_s",
                                      "rows_written", "jobs", "stages",
                                      "tasks")]
    for g in groups:
        names += [f"transform.{g}.{k}" for k in (
            "s", "plan_build_s", "write_s", "jobs", "stages", "tasks",
            "rows_out", *CENSUS)]
    names.append("transform.widgets_failed")
    for t in EXPORT_TARGETS:
        names += [f"export.{t}.{k}" for k in ("s", "jobs", "files", "bytes")]
    for q in HEADLINE:
        names += [f"query.{q}.s", f"query.{q}.exchanges"]
    for p in ("import", "transform", "export", "headline"):
        names += [f"spark.{p}.{k}"
                  for k in (*SPARK_METRICS, "driver_only_s")]
    names.append("trace.overhead_s")
    return names


def unit_of(name: str) -> str:
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("bytes"):
        return "bytes"
    return "count"


def _site_iteration_layers(tracer, log, rec) -> dict:
    from tracing import CENSUS

    m: dict[str, float] = {}
    spans = {s.name: s for s in tracer.children(rec["span"])}
    imp = spans["import"]
    subs = tracer.subtree(imp)
    m["import.read_s"] = sum(s.seconds for s in subs if s.name == "import.read")
    m["import.hierarchy_s"] = sum(s.seconds for s in subs
                                  if s.name == "import.hierarchy")
    writes = [s for s in subs if s.name == "write"]
    m["import.write_s"] = sum(s.seconds for s in writes)
    m["import.rows_written"] = log.totals(
        [s.group for w in writes for s in tracer.subtree(w)]
    )["records_written"]
    for k, v in rec["counts"]["import"].items():
        m[f"import.{k}"] = v
    for s in tracer.children(spans["transform"]):
        g = s.name[len("transform."):]
        w = [c for c in tracer.children(s) if c.name == "write"]
        m[f"transform.{g}.s"] = s.seconds
        m[f"transform.{g}.plan_build_s"] = (w[0].start if w else s.end) \
            - s.start
        m[f"transform.{g}.write_s"] = sum(c.seconds for c in w)
        for k, v in rec["counts"][s.name].items():
            m[f"transform.{g}.{k}"] = v
        m[f"transform.{g}.rows_out"] = rec["rows_out"].get(g, 0)
        census = log.census([x.group for c in w for x in tracer.subtree(c)])
        for k in CENSUS:
            m[f"transform.{g}.{k}"] = census[k]
    m["transform.widgets_failed"] = rec["widgets_failed"]
    for s in tracer.children(spans["export"]):
        t = s.name[len("export."):]
        m[f"export.{t}.s"] = s.seconds
        m[f"export.{t}.jobs"] = rec["counts"][s.name]["jobs"]
        m[f"export.{t}.files"], m[f"export.{t}.bytes"] = \
            rec["files"].get(t, (0, 0))
    for p in ("import", "transform", "export"):
        m.update(_spark_span_metrics(f"spark.{p}", tracer, log, spans[p]))
    return m


def _headline_pass_layers(tracer, log, rec) -> dict:
    m: dict[str, float] = {}
    for s in tracer.children(rec["span"]):
        m[f"{s.name}.s"] = s.seconds
        m[f"{s.name}.exchanges"] = log.census(
            [x.group for x in tracer.subtree(s)])["exchanges"]
    m.update(_spark_span_metrics("spark.headline", tracer, log, rec["span"]))
    return m


def per_layer(setup, iters, extra) -> tuple[dict, dict]:
    traced = extra["traced"]
    tracer, log = traced["tracer"], traced["log"]
    per_iter = [(_headline_pass_layers if "query_s" in r
                 else _site_iteration_layers)(tracer, log, r)
                for r in traced["iters"]]
    names = per_layer_names()
    values: dict[str, float] = {}
    repeat = {"repeated": [], "varied": {}}
    for n in names:
        xs = [m.get(n, 0) for m in per_iter]
        values[n] = _median(xs)
        if unit_of(n) != "s" and any(n in m for m in per_iter):
            if len(set(xs)) == 1:
                repeat["repeated"].append(n)
            else:
                repeat["varied"][n] = xs
    values["session.start_s"], values["session.warmup_s"] = setup
    # traced minus untraced, both on a warm JVM
    untraced = iters.get("repeats") or iters["measured"]
    values["trace.overhead_s"] = \
        _median([r["run_s"] for r in traced["iters"]]) - \
        _median([r["run_s"] for r in untraced])
    metrics = {n: {"value": values[n], "unit": unit_of(n)} for n in names}
    untouched = sorted(n for n in names if not any(n in m for m in per_iter)
                       and not n.startswith(("session.", "trace.")))
    return metrics, {"counters": repeat, "untouched": untouched}


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------

def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    work = os.path.join(root, ".perfbench", "work")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(root, work)
    load_before, steal_before = loadavg(), steal_seconds()
    runner = run_headline if args.workload == "headline_queries" else run_site
    try:
        setup, iters, extra = runner(args, root, work)
        record = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "nproc": nproc(),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "load_before": load_before, "load_after": loadavg(),
            "steal_s": steal_seconds() - steal_before,
            "session_conf": extra["conf"],
            "setup": dict(zip(("start_s", "warmup_s"), setup)),
        }
        runs = [r for k in ("measured", "repeats", "checks")
                for r in iters.get(k, [])]
        if extra["traced"]:
            runs += extra["traced"]["iters"]
        attempted = sum(r["attempted"] for r in runs)
        failed = sum(r["failed"] for r in runs)
        e2e = end_to_end(setup, iters)
        record["end_to_end"] = {**e2e, **reported_metrics(iters, extra),
                                "failed_ratio": {"value": failed / attempted,
                                                 "unit": "ratio"}}
        for k in ("measured", "repeats"):
            record[k] = [{f: v for f, v in r.items() if f != "span"}
                         for r in iters.get(k, [])]
        record["errors"] = [r["errors"] for r in runs if r["errors"]]
        if args.trace:
            metrics, notes = per_layer(setup, iters, extra)
            record.update(notes)
            traces = os.path.join(root, ".perfbench", "traces")
            os.makedirs(traces, exist_ok=True)
            extra["traced"]["tracer"].dump(os.path.join(
                traces, f"{args.workload}-seed{args.seed}.json"))
        else:
            metrics = e2e
    finally:
        if "pyspark" in sys.modules:
            stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    for name, m in record["end_to_end"].items():
        print(f"# {args.workload} {name} = {m['value']:.4f} {m['unit']}")
    records = os.path.join(root, ".perfbench", "records")
    os.makedirs(records, exist_ok=True)
    with open(os.path.join(records, f"{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps(record, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
