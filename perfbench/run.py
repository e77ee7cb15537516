"""The repository benchmark: one workload per invocation, or all of them.

    python3 perfbench/run.py --workload plain_pages --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 42 --seconds 10 --trace 1

Run from the root of a checkout; the engine is imported from that
checkout's source. Inputs are generated from `--seed`. After set-up
(imports, session start and an untimed warm-up, repeated
`SETUPS` times), a closed loop with one client runs the workload's
iteration for `--seconds`, then the outputs are checked.

stdout: one line per metric (name, value, unit), then, as the last
line, one JSON object with `correct`, `attempted`, `failed` and
`metrics`: the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`. The traced run also writes its spans, their
self times and shares of `wall_s`, and the event-log counters to
`.perfbench/traces/`. Exits 1 when an output check fails, 2 when the
checkout holds no engine to run.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

T_START = time.perf_counter()
SETUPS = 3
TRACED_BUDGET_S = 125.0
ITER_TIMEOUT_S = 120.0
MAX_CPUS = 4

PER_LAYER = [
    ("session.get_spark_s", "s"), ("emit.cold_kernel_s", "s"),
    ("sources.read_pages_s", "s"), ("emit.emit_triples_arrow_s", "s"),
    ("emit.raw_triples", "count"), ("emit.distinct_per_raw", "ratio"),
    ("plans.finalize_s", "s"), ("plans.finalize.shuffle_bytes", "B"),
    ("trace.overhead_ratio", "ratio"), ("iteration.jobs", "count"),
    ("iteration.tasks", "count"), ("iteration.shuffle_bytes", "B"),
    ("iteration.input_rows", "count"), ("iteration.task_s", "s"),
    ("iteration.driver_share", "ratio"),
]


def _engine_present() -> bool:
    return (os.path.isfile(os.path.join(ROOT, "psyndex2linkeddata_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")))


def _cpus() -> int:
    """Task slots: one core fewer than the host has (at most MAX_CPUS).
    About half of linked_pages' iteration is driver-side plan building;
    with a task on every core it competes with the tasks and the JVM's
    compiler threads, and the ten-seed spread of wall_s was 0.17 at
    local[4] against 0.04 at local[3] on a 4-vCPU host."""
    return max(1, min(len(os.sched_getaffinity(0)) - 1, MAX_CPUS))


def _driver_memory() -> str:
    """A fifth of host RAM, 1-4 GB: the package's fixed 16g default got
    a JVM killed on a 15 GB host."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    return f"{max(1, min(4, total_kb // (5 * 1024 * 1024)))}g"


def session_conf(work: str, trace: bool) -> dict[str, str]:
    heap = _driver_memory()
    conf = {
        "spark.sql.files.maxPartitionBytes": str(512 * 1024),
        "spark.sql.files.openCostInBytes": str(64 * 1024),
        "spark.driver.memory": heap,
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed, pre-touched heap: the JVM's resident size then no
        # longer depends on when the collector chose to grow the heap,
        # so peak_rss_mb moves with the program's memory, not GC timing
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
            f"-Xms{heap} -XX:+AlwaysPreTouch"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


class Run:
    """One workload run: set-up, closed loop, checks, and the traced
    decomposition when asked for."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.name, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = work
        self.cpus = _cpus()
        self.spark = None
        self.rss_mb = 0.0

    # -- session ---------------------------------------------------------
    def start(self):
        from psyndex2linkeddata_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench", master=f"local[{self.cpus}]",
                               extra_conf=session_conf(self.work, self.trace))
        return self.spark

    def stop(self, kill_jvm: bool = False) -> None:
        """Stop the session; with `kill_jvm`, also end the JVM and wait."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if kill_jvm and gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.terminate()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def sample_rss(self) -> None:
        from pyspark import SparkContext

        from harness import tree_hwm_mb

        self.rss_mb = max(self.rss_mb, tree_hwm_mb(SparkContext._gateway.proc.pid))

    # -- phases ----------------------------------------------------------
    def setup(self, w) -> dict:
        """`SETUPS` set-ups; the first imports and starts the JVM, the
        others restart the session in the same JVM (fresh Python workers)."""
        total, sess, warm = [], [], []
        for k in range(SETUPS):
            if k:
                self.stop()
            # the first set-up also pays the imports (session, then the
            # warm-up's own)
            t0 = time.perf_counter()
            spark = self.start()
            sess.append(time.perf_counter() - t0)
            tw = time.perf_counter()
            w.warm_up(spark)
            warm.append(time.perf_counter() - tw)
            total.append(time.perf_counter() - t0)
            self.sample_rss()
        return {"setup": total, "session": sess, "warm": warm}

    def loop(self, w, seconds: float, max_iters=None):
        from harness import closed_loop

        spark = self.spark

        def between():
            self.sample_rss()
            w.between(spark)

        return closed_loop(lambda: w.iteration(spark), lambda h: w.check(spark, h),
                           seconds, ITER_TIMEOUT_S, max_iters=max_iters, between=between)

    def pinned_check(self, w) -> str | None:
        with open(os.path.join(HERE, "expected.json")) as f:
            pins = json.load(f)
        if self.seed != pins["seed"]:
            return None
        if w.name == "operator_leaves":
            want = pins["leaves"]
            bad = [q for q, fp in w.leaf_fingerprints.items() if q in want and want[q] != fp]
            return f"leaf fingerprints differ from the pinned ones: {bad}" if bad else None
        want = pins["fingerprints"].get(w.name)
        if want is not None and list(w.fingerprint or []) != want:
            return f"fingerprint {w.fingerprint} != pinned {want}"
        return None

    # -- the two kinds of run --------------------------------------------
    def execute(self) -> tuple[dict, dict]:
        from workloads import WORKLOADS

        w = WORKLOADS[self.name](self.work, self.seed, self.cpus)
        w.prepare()
        setups = self.setup(w)
        if self.trace:
            res, metrics, info = self.traced(w, setups)
        else:
            res = self.loop(w, self.seconds)
            self._fail(res, w.final_check(self.spark))
            self.sample_rss()
            metrics, info = {}, {}
            if res.samples:
                wall = statistics.median(res.samples)
                metrics = {
                    "wall_s": (wall, "s"),
                    "triples_per_s": (w.distinct_triples / wall, "1/s"),
                    "setup_s": (statistics.median(setups["setup"]), "s"),
                    "peak_rss_mb": (self.rss_mb, "MB"),
                }
                if not w.kg:
                    metrics.pop("triples_per_s")
            info = {"samples": (len(res.samples), "count"), **w.extra}
        self._fail(res, self.pinned_check(w))
        info["failed_ratio"] = (res.failed_ratio, "ratio")
        summary = {
            "correct": res.failed == 0 and bool(res.samples),
            "attempted": res.attempted,
            "failed": res.failed,
            "errors": res.errors,
            "fingerprint": w.fingerprint,
            "leaf_fingerprints": getattr(w, "leaf_fingerprints", None),
        }
        return summary, {"metrics": metrics, "info": info}

    @staticmethod
    def _fail(res, err: str | None) -> None:
        """A failed run-level check counts as one more failed attempt."""
        if err:
            res.attempted += 1
            res.failed += 1
            res.errors.append(err)

    def traced(self, w, setups: dict):
        """One untraced iteration, one traced iteration (spans around the
        layer functions) and the workload's staged probe."""
        import importlib

        import eventlog
        from tracer import Tracer
        from workloads import PATCH_POINTS, release

        spark = self.spark
        res = self.loop(w, 0, max_iters=1)
        wall_plain = res.samples[0] if res.samples else float("nan")

        tr = Tracer(spark.sparkContext)
        w.tr = tr
        patched = []
        for mod_name, attr, span in PATCH_POINTS:
            mod = importlib.import_module(mod_name)
            tr.wrap(mod, attr, span)
            patched.append((mod, attr))
        try:
            t0 = time.perf_counter()
            with tr.span("iteration"):
                handle = w.iteration(spark)
            wall_traced = time.perf_counter() - t0
        finally:
            for mod, attr in patched:
                Tracer.restore(mod, attr)
            w.tr = None
        err = w.check(spark, handle)
        self._fail(res, err)
        if not err:
            res.samples.append(wall_traced)
        release(spark)  # the probe starts from an empty cache
        with tr.span("probe"):
            extra = w.probe(spark, tr)
        w.between(spark)
        # the first iteration after set-up runs slower (JIT), so the
        # traced one is compared with an untraced one that follows it,
        # when the run has time left for it
        reference = "first"
        if time.perf_counter() - T_START + 1.5 * wall_traced < TRACED_BUDGET_S:
            again = self.loop(w, 0, max_iters=1)
            if again.samples:
                wall_plain, reference = again.samples[0], "after"
            res.attempted += again.attempted
            res.failed += again.failed
            res.errors += again.errors

        app_id = spark.sparkContext.applicationId
        self._fail(res, w.final_check(spark))
        self.sample_rss()
        self.stop()
        counters = eventlog.read_counters(
            eventlog.find_log(os.path.join(self.work, "eventlog"), app_id))
        it = eventlog.under(counters, "iteration")

        def in_probe(name):
            return [s for s in tr.find(name) if tr.path(s.sid).startswith("probe/")]

        def probe_s(name):
            return sum(s.duration for s in in_probe(name))

        def probe_self(name):
            return sum(tr.self_time(s.sid) for s in in_probe(name))

        m: dict = {
            "session.get_spark_s": (statistics.median(setups["session"]), "s"),
            "emit.cold_kernel_s": (statistics.median(setups["warm"]), "s"),
            "trace.overhead_ratio": (wall_traced / wall_plain, "ratio"),
            "iteration.jobs": (it["jobs"], "count"),
            "iteration.tasks": (it["tasks"], "count"),
            "iteration.shuffle_bytes": (it["shuffle_write_bytes"], "B"),
            "iteration.input_rows": (it["input_rows"], "count"),
            "iteration.task_s": (it["task_run_s"], "s"),
            "iteration.driver_share": (1 - eventlog.task_busy_s(it) / wall_traced, "ratio"),
        }
        if w.kg:
            m.update({
                "sources.read_pages_s": (probe_s("sources.read_pages"), "s"),
                "emit.emit_triples_arrow_s": (probe_s("emit.emit_triples_arrow"), "s"),
                "plans.finalize_s": (probe_self("plans.finalize"), "s"),
                "plans.finalize.shuffle_bytes": (
                    eventlog.under(counters, "probe/plans.finalize")["shuffle_write_bytes"], "B"),
            })
        m.update(extra)
        info = {"wall_s": (wall_plain, "s"), "traced.wall_s": (wall_traced, "s"),
                f"trace.overhead_vs_untraced_{reference}": (1, "flag")}
        # every other span, probe and traced iteration alike, as a layer time
        for s in tr.spans:
            path = tr.path(s.sid)
            if path.startswith("probe/"):
                key = f"{s.name}_s"
                if key not in m:
                    m[key] = (probe_self(s.name), "s")
            elif path.startswith("iteration/"):
                info[f"iteration.{s.name}.self_s"] = (
                    info.get(f"iteration.{s.name}.self_s", (0.0, "s"))[0] + tr.self_time(s.sid), "s")
        if w.name == "convert_job":
            ck = "iteration/jobs.convert.main/sources.checkpoint.run_checkpointed"
            ckc = eventlog.under(counters, ck)
            run_ck = tr.total("sources.checkpoint.run_checkpointed")
            m.update({
                "sources.checkpoint.run_checkpointed_s": (run_ck, "s"),
                "sources.checkpoint.spark_jobs": (ckc["jobs"], "count"),
                # rows scanned per input page, the output re-reads taken out
                "sources.checkpoint.scan_rows_per_page": (
                    (ckc["input_rows"] - w.persisted_rows) / w.n_pages, "ratio"),
                "sources.checkpoint.overhead_ratio": (
                    run_ck / probe_s("sources.one_shot_write"), "ratio"),
                "jobs.convert.main_s": (tr.total_self("jobs.convert.main"), "s"),
            })
        if w.name == "operator_leaves":
            for q in [s.name for s in tr.spans if s.name.startswith("operators.leaf.")]:
                m[f"{q}_s"] = (tr.total(q), "s")

        os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
        tr.write(
            os.path.join(ROOT, ".perfbench", "traces", f"{w.name}-seed{self.seed}.json"),
            wall_s=wall_plain, traced_wall_s=wall_traced,
            metrics={k: v[0] for k, v in m.items()},
            counters={k: {c: v for c, v in d.items() if c != "intervals"}
                      for k, d in counters.items()},
        )
        self._span_table = [
            (tr.path(s.sid), s.duration, tr.self_time(s.sid)) for s in tr.spans
        ]
        self._wall_plain = wall_plain
        # the JSON carries the per-layer set every KG workload measures;
        # the workload's own layers are printed and kept in the trace file
        keep = [k for k, _ in PER_LAYER] if w.kg else list(m)
        info.update({k: v for k, v in m.items() if k not in keep})
        return res, {k: m[k] for k in keep}, info


def _fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def run_one(args) -> int:
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    for sub in ("tmp", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    sys.path.insert(0, ROOT)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        summary, out = run.execute()
    finally:
        run.stop(kill_jvm=True)
        shutil.rmtree(work, ignore_errors=True)

    tag = args.workload
    for err in summary["errors"]:
        print(f"{tag} FAILED: {err.strip()}", file=sys.stderr)
    if summary["fingerprint"] is not None:
        print(f"{tag} fingerprint = {summary['fingerprint']}")
    if summary["leaf_fingerprints"]:
        print(f"{tag} leaf_fingerprints = {json.dumps(summary['leaf_fingerprints'])}")
    if args.trace:
        wall = run._wall_plain
        print(f"{tag} {'span':<72} {'total_s':>9} {'self_s':>9} {'self/wall':>9}")
        for path, dur, self_s in run._span_table:
            print(f"{tag} {path:<72} {dur:9.3f} {self_s:9.3f} {self_s / wall:9.3f}")
    for k, (v, unit) in {**out["metrics"], **out["info"]}.items():
        print(f"{tag} {k} = {_fmt(v)} {unit}")
    metrics = out["metrics"]
    if not all(math.isfinite(v) for v, _u in metrics.values()):
        summary["correct"], metrics = False, {}
    print(json.dumps({
        "correct": summary["correct"],
        "attempted": summary["attempted"],
        "failed": summary["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if summary["correct"] else 1


def run_all(args) -> int:
    """Every workload in its own process, one after the other."""
    from workloads import WORKLOADS

    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            cwd=ROOT, stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(line)
        try:
            last = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            last = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
        combined["correct"] &= bool(last["correct"]) and proc.returncode == 0
        combined["attempted"] += last["attempted"]
        combined["failed"] += last["failed"]
        for k, v in last["metrics"].items():
            combined["metrics"][f"{name}.{k}"] = v
    print(json.dumps(combined))
    return 0 if combined["correct"] else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not _engine_present():
        print(f"perfbench: no engine source under {ROOT} "
              "(psyndex2linkeddata_spark/ and __spark_entry__.py)", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)} or 'all'", file=sys.stderr)
        return 2
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
