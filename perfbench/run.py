"""Extraction benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload extract_block --seed 1 --seconds 10 --trace 0

Untraced (``--trace 0``) it prints the end-to-end metrics: set-up time,
job time and docs/s at ``local[4]`` (closed loop: each job starts when the
previous one ends), and peak RSS.  Traced (``--trace 1``) it prints the
per-layer metrics for ``sources``, ``kernel.*`` and ``pipeline``, the
1→4-core scaling efficiency on the same files, and the tracing overhead.
Either way the Spark output is checked against the single-process oracle
outside the timed region, and the last stdout line is
``{"correct", "attempted", "failed", "metrics"}``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(HERE, ".work")
CORES = 4
LOCAL = f"local[{CORES}]"
MIN_JOBS = 3  # timed jobs per untraced run, however long they take
SETUPS = 3    # session starts per untraced run; setup_s is their median
DRIVER_HEAP = "2g"


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="measuring time of the run, shared by its legs")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--docs", type=int, default=None,
                   help="override the workload's input size (smoke test)")
    return p.parse_args(argv)


def _engine_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "ocrd_calamari_spark", "__init__.py"))


class Bench:
    """State of one run: sessions, job accounting, spans, work directory."""

    def __init__(self, spec, seed: int, seconds: float, docs: int, work: str):
        from perfbench import workloads as wl

        self.wl = wl
        self.spec = spec
        self.seconds = seconds
        self.work = work
        self.cfg = wl.config(spec)
        self.attempted = 0
        self.failed = 0
        self.spans: list[dict] = []
        self.t_origin = time.perf_counter()
        with self.span("generate"):
            self.inputs = wl.make_inputs(spec, seed, docs, work)
        self.docs = docs
        self._out_seq = 0

    # -- spans ------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, parent: str = "run"):
        """Record one span; spans stay in memory until the run ends."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append({"name": name, "parent": parent,
                               "start": t0 - self.t_origin,
                               "end": time.perf_counter() - self.t_origin})

    # -- sessions -----------------------------------------------------------
    def start(self, master: str, event_dir: str | None = None):
        """SparkSession start plus the Python-worker warm job → (spark, s)."""
        from pyspark.sql import SparkSession

        local = os.path.join(self.work, "spark-local")
        b = (SparkSession.builder.master(master).appName("perfbench")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             # the workload's partition count at every core count: at
             # corpus scale partitions far outnumber cores, and coalescing
             # the benchmark's few MB into one task would hide that
             .config("spark.sql.shuffle.partitions", str(self.spec.partitions))
             .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
             .config("spark.local.dir", local)
             # a fixed, pre-touched heap: G1's adaptive sizing otherwise
             # moves the driver's resident set by hundreds of MB per run
             .config("spark.driver.memory", DRIVER_HEAP)
             .config("spark.driver.extraJavaOptions",
                     f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch")
             .config("spark.sql.warehouse.dir", os.path.join(self.work, "warehouse")))
        if event_dir is not None:
            b = (b.config("spark.eventLog.enabled", "true")
                 .config("spark.eventLog.dir", "file://" + event_dir)
                 .config("spark.eventLog.compress", "false")
                 .config("spark.eventLog.rolling.enabled", "false"))
        t0 = time.perf_counter()
        with self.span(f"setup {master}"):
            spark = b.getOrCreate()
            spark.sparkContext.setLogLevel("ERROR")
            self.wl.warm_job(spark, self.inputs, self.cfg)
        return spark, time.perf_counter() - t0

    # -- jobs ---------------------------------------------------------------
    def out_dir(self) -> str:
        self._out_seq += 1
        return os.path.join(self.work, "out-%d" % self._out_seq)

    def job(self, spark, group: str, fn):
        """Run ``fn`` under Spark job group ``group``; a job counts as
        failed if it raises or any of its tasks failed.  → (seconds, result)
        or (None, None) on failure."""
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.span(group, parent="leg"):
                out = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None, None
        dt = time.perf_counter() - t0
        tracker = sc.statusTracker()
        bad = 0
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                stage = tracker.getStageInfo(sid)
                bad += stage.numFailedTasks if stage else 0
        if bad:
            self.failed += 1
        return dt, out

    def closed_loop(self, spark, tag: str, budget_s: float, min_jobs: int):
        """Jobs back to back (each starts when the last ends) until the
        budget is spent → (job seconds, per-job phase dicts)."""
        times, phases = [], []
        deadline = time.perf_counter() + budget_s
        i = 0
        while len(times) < min_jobs or time.perf_counter() < deadline:
            out = self.out_dir()
            dt, ph = self.job(spark, f"{tag}-{i}", lambda: self.wl.run_job(
                self.spec, spark, self.inputs, self.cfg, out))
            shutil.rmtree(out, ignore_errors=True)
            i += 1
            if dt is not None:
                times.append(dt)
                phases.append(ph)
            elif i >= 2 * max(min_jobs, 1) and not times:
                raise RuntimeError(f"{tag}: every job failed")
        return times, phases

    def verify(self, spark) -> dict:
        """Collect the workload's output and count rows, error rows and
        distinct urls; the sampled rows come back in full."""
        from pyspark.sql import functions as F

        from perfbench.oracle import COMPARED

        inp = self.inputs
        out = self.out_dir()

        def collect():
            df = self.wl.output(self.spec, spark, inp, self.cfg, out)
            detail = F.struct(*[F.col(c) for c in COMPARED + ("error",)])
            return df.select(
                "url", F.col("error").isNotNull().alias("err"),
                F.when(F.col("url").isin(inp.sample_urls), detail).alias("d"),
            ).collect()

        _, rows = self.job(spark, "verify", collect)
        rows = rows or []
        urls = [r["url"] for r in rows]
        res = {
            "one_row_per_url": len(urls) == len(set(urls)) == len(inp.pages)
            and set(urls) == set(inp.pages["url"]),
            "error_rows": sum(r["err"] for r in rows),
            "sampled": {r["url"]: r["d"].asDict() for r in rows if r["d"] is not None},
            "out_bytes": self.wl.parquet_bytes(out) if os.path.isdir(out) else 0,
        }
        shutil.rmtree(out, ignore_errors=True)
        return res

    def check(self, verified: dict, oracle_rows) -> tuple[bool, int, int]:
        """→ (correct, rows checked, rows mismatched)."""
        from perfbench.oracle import mismatches

        bad = mismatches(verified["sampled"], oracle_rows)
        for url in bad[:5]:
            print(f"MISMATCH {url}", file=sys.stderr)
        ok = (not bad and verified["one_row_per_url"]
              and verified["error_rows"] == self.inputs.poison)
        if verified["error_rows"] != self.inputs.poison:
            print(f"error rows {verified['error_rows']} != poison rows "
                  f"{self.inputs.poison}", file=sys.stderr)
        return ok, len(oracle_rows), len(bad)

    def oracle_sample(self):
        pages = self.inputs.pages
        return pages[pages["url"].isin(self.inputs.sample_urls)]


def _shutdown_jvm() -> None:
    """End the driver JVM this process started and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_untraced(b: Bench, host) -> tuple[dict, dict]:
    """End-to-end metrics.  The first session start pays the JVM launch;
    two more starts in the warm JVM make ``setup_s`` a median of three."""
    from perfbench.oracle import replay

    spark, setup = b.start(LOCAL)
    setups = [setup]
    verified = b.verify(spark)  # untimed; warms the JVM for the timed jobs
    before = host.cpu_times()
    with host.PeakRss() as rss, b.span("leg"):
        times, _ = b.closed_loop(spark, "timed", b.seconds, MIN_JOBS)
    steal = host.steal_fraction(before, host.cpu_times())
    spark.stop()
    for _ in range(SETUPS - 1):
        spark, setup = b.start(LOCAL)
        setups.append(setup)
        spark.stop()
    with b.span("oracle"):
        oracle_rows, _ = replay(b.oracle_sample(), b.cfg)
    ok, checked, bad = b.check(verified, oracle_rows)
    job_s = statistics.median(times)
    metrics = {
        "setup_s": (statistics.median(setups), "s"),
        "job_s": (job_s, "s"),
        "docs_per_s": (b.docs / job_s, "docs/s"),
        "peak_rss_mb": (rss.peak_mb, "MB"),
    }
    info = {"ok": ok, "checked": checked, "mismatched": bad,
            "job_s_all": times, "setups": setups, "steal": steal}
    return metrics, info


def run_traced(b: Bench, host) -> tuple[dict, dict]:
    """Per-layer metrics: an untraced leg, a one-core leg on the same files
    (scaling efficiency), then a leg under the Spark event log followed by
    the wrapped single-process kernel replay."""
    from perfbench.eventlog import EventLog, load_events
    from perfbench.oracle import KernelTrace, replay

    before = host.cpu_times()
    spark, _ = b.start(LOCAL)
    verified = b.verify(spark)  # untimed; warms the JVM for the legs
    with b.span("leg"):
        plain, _ = b.closed_loop(spark, "plain", b.seconds / 2, 2)
    spark.stop()
    spark, _ = b.start("local[1]")
    with b.span("leg"):
        single, _ = b.closed_loop(spark, "single", 0, 1)
    spark.stop()
    event_dir = os.path.join(b.work, "events")
    os.makedirs(event_dir)
    spark, _ = b.start(LOCAL, event_dir=event_dir)
    with b.wl.CommitTimer() as commits, b.span("leg"):
        traced, phases = b.closed_loop(spark, "timed", b.seconds / 2, 2)
    steal = host.steal_fraction(before, host.cpu_times())
    spark.stop()

    inp = b.inputs
    m = EventLog(load_events(event_dir), inp.source_path).median_metrics(
        "timed-", inp.source_bytes)
    with b.span("kernel replay"), KernelTrace() as kt:
        oracle_all, batch_s = replay(inp.pages, b.cfg)
    m.update(kt.metrics(len(inp.pages), batch_s))
    ok, checked, bad = b.check(
        verified, oracle_all[oracle_all["url"].isin(inp.sample_urls)])

    m["pipeline.scaling_eff"] = (statistics.median(single)
                                 / (CORES * statistics.median(plain)))
    write_bytes = m.pop("pipeline.write_bytes")
    if b.spec.name == "resume_job":  # the only workload that writes
        m["pipeline.chunk_s"] = statistics.median(
            p["extract_s"] / p["chunks"] for p in phases)
        m["pipeline.validate_s"] = statistics.median(
            p["validate_s"] for p in phases)
        m["pipeline.manifest_commit_s"] = statistics.median(commits.seconds)
        m["pipeline.write_bytes"] = write_bytes
        m["pipeline.out_bytes_per_doc"] = verified["out_bytes"] / b.docs
    m.update(_warc_replay(b))
    m["trace.job_s"] = statistics.median(traced)
    m["trace.overhead_s"] = m["trace.job_s"] - statistics.median(plain)
    metrics = {k: (v, _unit(k)) for k, v in m.items()}
    info = {"ok": ok, "checked": checked, "mismatched": bad,
            "job_s_plain": plain, "job_s_single": single,
            "job_s_traced": traced, "steal": steal}
    return metrics, info


def _warc_replay(b: Bench) -> dict:
    """``sources.warc.records_to_rows`` single-process over the workload's
    WARC files (zero on workloads that read parquet)."""
    from ocrd_calamari_spark.sources.warc import records_to_rows

    seconds, records = 0.0, 0
    if b.inputs.source.startswith("warc:"):
        with b.span("warc replay"):
            for name in sorted(os.listdir(b.inputs.source_path)):
                with open(os.path.join(b.inputs.source_path, name), "rb") as f:
                    data = f.read()
                t0 = time.perf_counter()
                records += sum(1 for _ in records_to_rows(name, data))
                seconds += time.perf_counter() - t0
    return {"sources.warc.records_to_rows_s": seconds,
            "sources.warc.records": records}


def _unit(name: str) -> str:
    if name.endswith(("_bytes", "_sent", "_received")):
        return "bytes"
    if name.endswith("_per_doc"):
        return "1/doc" if "bytes" not in name else "bytes/doc"
    if name.endswith("docs_per_s"):
        return "docs/s"
    if name.endswith(("_ratio", "_skew", "_amplification", "_eff")):
        return "ratio"
    if name.endswith((".s", "_s")):
        return "s"
    return "count"


def main(argv=None) -> int:
    args = _parse(argv)
    if not _engine_present():
        print(f"perfbench: no ocrd_calamari_spark package under {ROOT}; "
              f"run from a checkout of the engine", file=sys.stderr)
        return 2
    # import the engine and this package from the checkout only; the
    # script's own directory would otherwise shadow top-level modules
    sys.path[0] = ROOT
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    from perfbench import host
    from perfbench.workloads import SPECS

    spec = SPECS.get(args.workload)
    if spec is None:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(SPECS)}", file=sys.stderr)
        return 2
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    local = os.path.join(work, "spark-local")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(local)
    # Spark, Python and JVM temporary files stay inside the checkout; the
    # JVM options reach spark-submit's launcher JVM too, not just the driver
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={local} -XX:-UsePerfData"
    try:
        membw_before = host.membw_probe_gbps()
        b = Bench(spec, args.seed, args.seconds, args.docs or spec.docs, work)
        runner = run_traced if args.trace else run_untraced
        metrics, info = runner(b, host)
        membw_after = host.membw_probe_gbps()
    finally:
        _shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)

    hoststate = {"steal": info.pop("steal"), "membw_gbps_before": membw_before,
                 "membw_gbps_after": membw_after, "loadavg": os.getloadavg()}
    print(f"{spec.name} seed={args.seed} trace={args.trace} docs={b.docs}")
    for name, (value, unit) in metrics.items():
        print(f"  {name:36s} {value:14.6g} {unit}")
    print(f"  {'mismatch_frac':36s} {info['mismatched'] / max(info['checked'], 1):14.6g}"
          f" ratio ({info['checked']} rows checked against the oracle)")
    print(f"  {'failed_frac':36s} {b.failed / b.attempted:14.6g}"
          f" ratio ({b.attempted} jobs)")
    print("  host " + json.dumps(hoststate))
    print("  info " + json.dumps(info))
    record = os.path.join(WORK_ROOT, f"{spec.name}-seed{args.seed}-trace{args.trace}.json")
    with open(record, "w") as f:
        json.dump({"spans": b.spans, "metrics": metrics, "host": hoststate,
                   "info": info}, f, indent=1)
    print(json.dumps({
        "correct": bool(info["ok"]),
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if info["ok"] else 1


if __name__ == "__main__":
    sys.exit(main())
