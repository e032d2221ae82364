"""Benchmark driver for the document engine.

    python3 perfbench/run.py --workload doc_io --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. It generates the workload's inputs from
the seed, times the engine from outside through its public calls in a
closed loop (one client; the next op starts when the previous one has
finished), checks every result against an independent oracle, and
prints one JSON line last: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. Metric names and units come
from ``BENCHMARK.json``; perfbench/README.md says what each one means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORK_ROOT = os.path.join(ROOT, ".perfbench")
NPROC = len(os.sched_getaffinity(0))
# warm session re-setups per run; setup_s is their median
SETUPS = 5


@dataclass
class OpRecord:
    name: str
    wall: float
    cpu: float
    out_bytes: int


@dataclass
class PassRecord:
    ops: list[OpRecord]
    peak_rss_mb: float
    times: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return sum(o.wall for o in self.ops)


def hermetic_env(work: str) -> None:
    """No tuning variables, workers that import the program from this
    checkout, and every temporary file inside the run's work directory."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    for sub in ("tmp", "local", "warehouse", "out"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")


def log(msg: str) -> None:
    print(f"perfbench {time.perf_counter() - _T0:7.2f}s {msg}", file=sys.stderr, flush=True)


_T0 = time.perf_counter()


class Run:
    def __init__(self, args, spec: dict, work: str):
        self.args = args
        self.spec = spec
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.file_checks: list[dict] = []
        self.lock = threading.Lock()
        self.cpu = None

    # ---------------------------------------------------------- session

    def start_session(self, event_log: str | None = None):
        from mongo_arrow_spark.session import get_spark
        from mongo_arrow_spark.sources import register, register_warc

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.local.dir": os.path.join(self.work, "local"),
            # no /tmp/hsperfdata file: the run writes only inside the checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        spark = get_spark("perfbench", master=f"local[{NPROC}]", extra_conf=conf)
        t1 = time.perf_counter()
        register(spark)
        register_warc(spark)
        t2 = time.perf_counter()
        spark.range(1).collect()
        t3 = time.perf_counter()
        return spark, {"get_spark_s": t1 - t0, "register_s": t2 - t1, "first_job_s": t3 - t2, "total": t3 - t0}

    def setup(self, prep):
        """Cold session start. ``prep`` (inputs and oracle) runs alongside
        it and must finish before the workload does."""
        from procstat import CpuSampler

        spark, cold = self.start_session()
        try:
            prep.result()
            self.cpu = CpuSampler(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        except BaseException:
            shutdown(spark)
            raise
        return spark, cold

    def resetups(self, spark):
        """The warm session set-ups ``setup_s`` is the median of. They run
        after the measured passes: right after the cold start the JVM is
        still compiling and collecting the start's garbage, which made
        their median jump between runs by half."""
        spark.sparkContext._jvm.System.gc()
        setups = []
        for _ in range(SETUPS):
            spark.stop()
            spark, s = self.start_session()
            setups.append(s)
        log("warm set-ups " + " ".join(f"{s['total']:.3f}s" for s in setups))
        return spark, setups

    # ---------------------------------------------------------- passes

    def run_op(self, wl, tr, name, fn, state, prefix) -> OpRecord:
        """Time one op, then check it (and, traced, probe it) untimed."""
        c0 = self.cpu.sample()
        t0 = time.perf_counter()
        try:
            result, err = fn(state, tr), None
        except Exception as exc:  # an op that raises is a failed op, not a crashed run
            result, err = None, exc
        wall = time.perf_counter() - t0
        cpu = self.cpu.sample() - c0
        out = 0
        tasks = []
        if err is None:
            try:
                tasks.append(wl.check(name, result, state))
                out = wl.out_bytes(name, result, state)
                if tr.on:
                    tr.prefix = "probe" + prefix
                    try:
                        tasks.append(wl.probe(name, state, tr))
                    finally:
                        tr.prefix = prefix
            except Exception as exc:
                err = exc
        with self.lock:  # the warm-up runs ops in threads
            self.attempted += 1
            self.file_checks += [dict(t, op=prefix + name) for t in tasks if t is not None]
            if err is not None:
                self.failed += 1
                log(f"op {prefix}{name} failed:")
                traceback.print_exception(err, file=sys.stderr)
        return OpRecord(name, wall, cpu, out)

    def new_pass(self, wl, tr, prefix: str) -> dict:
        """Untimed start of a pass. Frames an earlier pass persisted are
        dropped, so no pass reads another's cache: the engine matches
        persisted plans across calls, and a pass that found the previous
        pass's data cached would reward an operator for never releasing it."""
        wl.spark.catalog.clearCache()
        tr.begin_pass(prefix)
        state = {"out": os.path.join(self.work, "out", prefix.strip("/"))}
        os.makedirs(state["out"])
        return state

    def run_pass(self, wl, tr, prefix: str) -> PassRecord:
        """One pass, its ops one after another. The driver's peak RSS is
        the pass's own: the high-water mark is reset when the pass starts."""
        from procstat import peak_rss_mb, reset_peak_rss

        state = self.new_pass(wl, tr, prefix)
        reset_peak_rss()
        ops = []
        for name, fn in wl.ops():
            tr.op = name
            ops.append(self.run_op(wl, tr, name, fn, state, prefix))
        rss = peak_rss_mb()
        log(prefix + " ".join(f"{o.name}={o.wall:.3f}s" for o in ops) + f" cpu={sum(o.cpu for o in ops):.2f}s")
        if tr.on:
            tr.prefix = "probe" + prefix
            wl.pass_probe(tr)
        return PassRecord(ops, rss, dict(tr.times))

    def warm_up(self, wl, tr, prefix: str) -> None:
        """The untimed first pass, every result still checked. Ops that
        later ops read state from (``wl.PREREQS``) run first, in order; the
        rest run NPROC at a time. On a 4-vCPU host this takes the doc_io
        warm-up from ~34 s (one op at a time) to ~19 s, which a run's time
        budget needs; the measured passes stay sequential."""
        state = self.new_pass(wl, tr, prefix)
        ops = wl.ops()
        for name, fn in ops:
            if name in wl.PREREQS:
                self.run_op(wl, tr, name, fn, state, prefix)
        with ThreadPoolExecutor(NPROC) as pool:
            futures = [pool.submit(self.run_op, wl, tr, name, fn, state, prefix)
                       for name, fn in ops if name not in wl.PREREQS]
            for f in futures:
                f.result()
        log(f"{prefix} warm-up done")

    def loop(self, wl, tr, seconds: float, prefix: str = "p", min_passes: int = 1) -> list[PassRecord]:
        """Closed loop of whole passes within ``seconds``: after the first
        ``min_passes``, a pass starts only if it should end in time, judged
        by the previous one, so a faster program measures more passes."""
        passes = []
        t0 = time.perf_counter()
        while True:
            start = time.perf_counter()
            passes.append(self.run_pass(wl, tr, f"{prefix}{len(passes) + 1}/"))
            end = time.perf_counter()
            if len(passes) >= min_passes and (end - t0) + (end - start) > seconds:
                return passes

    def verify_files(self, inputs: str) -> None:
        """Check what the sinks wrote, in the oracle subprocess."""
        tasks = os.path.join(self.work, "file_checks.json")
        with open(tasks, "w") as fh:
            json.dump(self.file_checks, fh)
        out = subprocess.run([sys.executable, os.path.join(HERE, "oracles.py"), "verify", inputs, tasks],
                             check=True, capture_output=True, text=True).stdout
        for failure in json.loads(out):
            self.failed += 1
            log(f"op {failure['op']} failed its oracle: {failure['error']}")

    # ---------------------------------------------------------- metrics

    def end_to_end(self, passes, setups, manifest) -> dict:
        med = statistics.median
        return {
            "setup_s": med(s["total"] for s in setups),
            "cpu_s": med(sum(o.cpu for o in p.ops) for p in passes),
            "driver_peak_rss_mb": med(p.peak_rss_mb for p in passes),
            "out_bytes_per_in_byte": med(sum(o.out_bytes for o in p.ops) for p in passes) / manifest["in_bytes"],
        }

    @staticmethod
    def wall(passes, manifest) -> dict:
        """Wall-clock throughput and op latency. They follow the host's CPU
        steal more than the program, so they are reported, not gated."""
        med = statistics.median
        return {
            "docs_per_s": med(manifest["docs"] / p.wall for p in passes),
            "op_p50_s": med(o.wall for p in passes for o in p.ops),
        }

    def per_layer(self, untraced, traced, groups, cold, setups, manifest) -> dict:
        import ledger

        med = statistics.median

        def timer(name):  # median over the traced passes
            return med(p.times.get(name, 0.0) for p in traced)

        def ops_of(prefix):
            return ledger.total(groups, prefix)

        p1 = ops_of("p1/")
        m = {
            "session.cold_setup_s": cold["total"],
            "session.get_spark_s": med(s["get_spark_s"] for s in setups),
            "session.register_s": med(s["register_s"] for s in setups),
            "session.first_job_s": med(s["first_job_s"] for s in setups),
            "trace.traced_docs_per_s": self.wall(traced, manifest)["docs_per_s"],
        }
        m.update({f"trace.untraced_{k}": v for k, v in self.wall(untraced, manifest).items()})
        m["trace.overhead_ratio"] = m["trace.untraced_docs_per_s"] / m["trace.traced_docs_per_s"]
        for k in ledger.FIELDS:
            m[f"spark.{k}"] = p1[k]
        for name in ("documents.infer_s", "mql.translate_s", "mql.plan_s", "api.to_arrow_s",
                     "api.to_pandas_s", "api.write_documents_s", "api.write_documents_gzip_s",
                     "api.write_parquet_s", "warc.scan_s", "text.build_s", "text.action_s",
                     "curate.build_s", "curate.action_s", "pack.write_s", "documents.scan_s"):
            m[name] = timer(name)
        m["api.bson_dtype_s"] = med(
            p.times.get("api.find_pandas_all_s", 0.0) - p.times.get("api.bare_to_pandas_s", 0.0) for p in traced)
        scan = ops_of("probep1/documents_scan/")
        m["documents.scan_tasks"] = scan["tasks"]
        m["documents.scan_docs_per_s"] = (
            manifest["export_docs"] / m["documents.scan_s"] if m["documents.scan_s"] else 0.0)
        from workloads import DOCUMENT_WRITES, dir_bytes

        m["documents.write_s"] = sum(ops_of(f"p1/{op}/")["executor_run_s"] for op in DOCUMENT_WRITES)
        written = [dir_bytes(os.path.join(self.work, "out", "p1", op)) for op in DOCUMENT_WRITES]
        m["documents.write_bytes"] = sum(b for b, _ in written)
        m["documents.write_files"] = sum(f for _, f in written)
        m["warc.scan_tasks"] = ops_of("probep1/warc/")["tasks"]
        m["warc.records"] = timer("warc.records")
        m["text.jobs_in_build"] = ops_of("probep1/extract/build")["jobs"]
        m["curate.jobs_in_build"] = ops_of("p1/curate/build")["jobs"]
        m["pack.jobs"] = ops_of("probep1/pack/")["jobs"]
        return m

    # ---------------------------------------------------------- main

    def main(self) -> int:
        args = self.args
        inputs = os.path.join(self.work, "input")
        with ThreadPoolExecutor(1) as pool:
            prep = pool.submit(prepare, args.workload, args.seed, inputs)
            spark, cold = self.setup(prep)
        manifest, expected = prep.result()
        log(f"session set up (cold {cold['total']:.2f}s)")

        from workloads import WORKLOADS, Tracer

        cls = WORKLOADS[args.workload]
        try:
            wl = cls(spark, manifest, expected)
            off = Tracer(spark, on=False)
            self.warm_up(wl, off, "warm/")
            for i in range(2, wl.WARM_PASSES + 1):
                self.run_pass(wl, off, f"warm{i}/")
            if not args.trace:
                passes = self.loop(wl, off, args.seconds, min_passes=wl.MIN_PASSES)
                log(f"{len(passes)} passes measured")
                spark, setups = self.resetups(spark)
                metrics = self.end_to_end(passes, setups, manifest)
                for k, v in self.wall(passes, manifest).items():
                    log(f"{k} {v:.6g} (wall clock, not gated)")
                names = self.spec["end_to_end"]
            else:
                untraced = self.loop(wl, off, args.seconds / 2, prefix="u")
                spark, setups = self.resetups(spark)
                spark.stop()
                log_dir = os.path.join(self.work, "eventlog")
                os.makedirs(log_dir)
                spark, _ = self.start_session(event_log=log_dir)
                wl = cls(spark, manifest, expected)
                self.warm_up(wl, Tracer(spark, on=False), "twarm/")
                on = Tracer(spark, on=True)
                traced = self.loop(wl, on, args.seconds / 2)
                spark.stop()
                import ledger

                groups = ledger.parse_event_log(ledger.find_log(log_dir))
                metrics = self.per_layer(untraced, traced, groups, cold, setups, manifest)
                self.save_capture(groups, metrics)
                names = self.spec["per_layer"]
        finally:
            shutdown(spark)
            log("spark stopped")
        self.verify_files(inputs)
        result = {}
        for spec in names:
            value = metrics[spec["name"]]
            result[spec["name"]] = {"value": value, "unit": spec["unit"]}
            print(f"{args.workload:14s} {spec['name']:28s} {value:14.6g} {spec['unit']}")
        ok = self.failed == 0
        print(json.dumps({"correct": ok, "attempted": self.attempted, "failed": self.failed, "metrics": result}))
        return 0 if ok else 1

    def save_capture(self, groups, metrics) -> None:
        """Keep the traced run's ledger for ``ledger.py diff``."""
        ops = {}
        for g, row in groups.items():
            for prefix in ("p1/", "probep1/"):
                if g.startswith(prefix):
                    ops[g[len("p1/"):] if prefix == "p1/" else "probe/" + g[len(prefix):]] = row
        os.makedirs(os.path.join(WORK_ROOT, "ledger"), exist_ok=True)
        path = os.path.join(
            WORK_ROOT, "ledger",
            f"{self.args.workload}-seed{self.args.seed}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json")
        with open(path, "w") as fh:
            json.dump({"workload": self.args.workload, "seed": self.args.seed, "ops": ops, "per_layer": metrics},
                      fh, indent=1, sort_keys=True)
        print(f"perfbench: ledger capture {os.path.relpath(path, ROOT)}", file=sys.stderr)


def prepare(workload: str, seed: int, inputs: str) -> tuple[dict, dict]:
    """Generate the inputs, then compute the oracle; neither is timed."""
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), workload, str(seed), inputs], check=True)
    subprocess.run([sys.executable, os.path.join(HERE, "oracles.py"), "expect", inputs], check=True)
    with open(os.path.join(inputs, "manifest.json")) as fh, open(os.path.join(inputs, "expected.json")) as ex:
        return json.load(fh), json.load(ex)


def shutdown(spark) -> None:
    """Stop Spark, then the JVM and its Python workers, and wait for them."""
    from procstat import descendants

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    children = descendants(proc.pid)
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while children and time.monotonic() < deadline:
        children = [p for p in children if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for pid in children:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("doc_io", "crawl_curate"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "mongo_arrow_spark", "__init__.py")):
        print("perfbench: no program source here; run from the root of a checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(0, ROOT)
    os.makedirs(WORK_ROOT, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=WORK_ROOT)
    try:
        hermetic_env(work)
        return Run(args, spec, work).main()
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
