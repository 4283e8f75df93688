"""Host-local, layered benchmark of the PySpark engine, measured from outside
the program.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One run, for one workload of ``workloads.WORKLOADS``:

1. prepares the workload's corpus from ``--seed`` (``corpus.py``; reused
   while unchanged, its time reported apart from set-up);
2. digests each op's DuckDB oracle over that corpus (``check.py``);
3. sets up three times — ``build_session()``, ``registry.all_queries()`` and
   one warm-up call of every op — and reports the median as ``setup_s``.
   The first set-up also starts the JVM; the later ones stop the session
   and build a new one in it;
4. runs whole passes over the ops (at least two), in an order shuffled from
   ``--seed``, until ``--seconds`` have passed: one client, one call in
   flight. Every
   call is fresh and cache-honest: Spark's cache is cleared first (untimed),
   a plan-memo wrapper is bypassed through ``__wrapped__``, and the timer
   covers construction, planning, execution and ``collect()``. Each result
   is digested after its timer stops and compared with the oracle's.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` calls alternate between untraced and traced, and it
carries the per-layer metrics of the traced calls (``tracing.py``) together
with the tracing overhead. A full record of the run — host, versions,
corpus, every call and every span — is written to ``perfbench/results/``.
The run exits non-zero if any call raised or mismatched its oracle.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PACKAGE = "highspeedrailwaybigdatasystem_spark"
SETUP_REPS = 3

sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

END_TO_END_UNITS = {
    "setup_s": "s", "ops_per_s": "ops/s", "call_s.p50": "s", "cpu_s_per_op": "s",
}


class ProcessTree:
    """CPU time and resident memory of this process and all its descendants
    (the Python driver, the JVM it launches and the JVM's Python workers)."""

    _TICK = os.sysconf("SC_CLK_TCK")
    _PAGE = os.sysconf("SC_PAGE_SIZE")
    #: thread names (as /proc truncates them) of the JVM's JIT compilers
    _JIT = ("C1 CompilerThre", "C2 CompilerThre")

    def __init__(self) -> None:
        self.root = os.getpid()

    def _stats(self) -> dict[int, list[str]]:
        procs = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    raw = fh.read()
            except OSError:
                continue
            procs[int(entry)] = raw[raw.rindex(")") + 2:].split()
        kids: dict[int, list[int]] = {}
        for pid, f in procs.items():
            kids.setdefault(int(f[1]), []).append(pid)
        tree, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in procs:
                tree[pid] = procs[pid]
            todo += kids.get(pid, [])
        return tree

    def cpu(self) -> tuple[float, dict]:
        """A CPU snapshot: utime + stime of live members plus the reaped
        children they carry, and the CPU of each JIT compiler thread."""
        tree = self._stats()
        total = sum(sum(int(x) for x in f[11:15]) for f in tree.values()) / self._TICK
        jit = {}
        for pid in tree:
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                try:
                    with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                        raw = fh.read()
                except OSError:
                    continue
                if raw[raw.index("(") + 1:raw.rindex(")")] in self._JIT:
                    f = raw[raw.rindex(")") + 2:].split()
                    jit[pid, tid] = (int(f[11]) + int(f[12])) / self._TICK
        return total, jit

    @staticmethod
    def delta(a: tuple[float, dict], b: tuple[float, dict]) -> tuple[float, float]:
        """(CPU outside JIT compilation, JIT compilation CPU) from a to b."""
        jit = sum(v - a[1].get(k, 0.0) for k, v in b[1].items())
        return b[0] - a[0] - jit, jit

    def rss_mb(self) -> float:
        return sum(int(f[21]) for f in self._stats().values()) * self._PAGE / 2**20


class PeakRss:
    """Samples the tree's total RSS every 50 ms while the block runs."""

    def __init__(self, tree: ProcessTree) -> None:
        self.tree, self.peak = tree, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.tree.rss_mb())
            self._stop.wait(0.05)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def isolate(work: str) -> dict[str, str]:
    """Point every directory the program and Spark write to at ``work``
    (emptied first), and pin the environment the measurement depends on."""
    shutil.rmtree(work, ignore_errors=True)
    dirs = {k: os.path.join(work, k) for k in ("scratch", "local", "tmp", "cwd")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ.update({
        "SPARK_GRAFT_SCRATCH": dirs["scratch"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "TMPDIR": dirs["tmp"],
        # the JVM's temp dir moves; its perf-counter file stays in memory
        # instead of /tmp/hsperfdata_<user>
        "PYSPARK_SUBMIT_ARGS": "--driver-java-options "
            f"'-Djava.io.tmpdir={dirs['tmp']} -XX:+PerfDisableSharedMem' pyspark-shell",
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "PYTHONPATH": os.pathsep.join(
            p for p in (REPO, os.environ.get("PYTHONPATH")) if p
        ),
        "TZ": "UTC",
    })
    # the program's own defaults are what gets measured
    for knob in ("SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_MAX_PARTITION_BYTES"):
        os.environ.pop(knob, None)
    time.tzset()
    # the warehouse dir, metastore and derby log land in the working directory
    os.chdir(dirs["cwd"])
    return dirs


def cpu_ticks() -> dict[str, int]:
    """Host-wide busy and steal ticks from /proc/stat: steal is time the
    hypervisor gave this VM's CPUs to someone else."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return {"busy": sum(f[:3]) + sum(f[5:7]), "steal": f[7], "idle": f[3] + f[4]}


def source_identity() -> dict:
    """The git commit (None outside a git checkout of the repository) and a
    digest of the package's sources, which identifies the code either way."""
    commit = None
    if os.path.exists(os.path.join(REPO, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", REPO, "rev-parse", "HEAD"],
                capture_output=True, text=True, check=True,
            ).stdout.strip()
        except (OSError, subprocess.CalledProcessError):
            pass
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(os.path.join(REPO, PACKAGE))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return {"git_commit": commit, "package_sha256": h.hexdigest()}


class Runner:
    """One benchmark run of one workload."""

    def __init__(self, workload, corpus_dir: str, expected: dict[str, str], seed: int,
                 digest):
        self.workload = workload
        self.digest = digest
        self.corpus = corpus_dir
        self.expected = expected
        self.rng = random.Random(seed)
        self.tree = ProcessTree()
        self.spark = None
        self.fns: dict = {}
        self.calls: list[dict] = []
        self.setups: list[dict] = []
        self.origin = time.perf_counter()

    def _checked(self, op: str, run_call) -> dict:
        """Run one cache-honest call through ``run_call`` and check its result."""
        self.spark.catalog.clearCache()
        cpu0 = self.tree.cpu()
        t0 = time.perf_counter()
        error = None
        try:
            df, rows = run_call()
        except Exception as ex:  # noqa: BLE001 - a failing op is a measured outcome
            traceback.print_exc()
            error = f"{type(ex).__name__}: {str(ex)[:300]}"
        dt = time.perf_counter() - t0
        cpu, jit = self.tree.delta(cpu0, self.tree.cpu())
        if error is None and self.digest(df.columns, rows) != self.expected[op]:
            error = "result digest differs from the oracle's"
        return {"op": op, "call_s": dt, "cpu_s": cpu, "jit_s": jit,
                "ok": error is None, "error": error}

    def _plain(self, op: str):
        df = self.fns[op](self.spark, self.corpus)
        return df, df.collect()

    def setup(self) -> None:
        from highspeedrailwaybigdatasystem_spark import registry
        from highspeedrailwaybigdatasystem_spark.session import build_session

        for _ in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = build_session()
            t1 = time.perf_counter()
            queries = registry.all_queries()
            t2 = time.perf_counter()
            self.fns = {
                op: getattr(queries[op], "__wrapped__", queries[op])
                for op in self.workload.ops
            }
            warm = []
            for op in self.workload.ops:
                rec = self._checked(op, lambda op=op: self._plain(op))
                rec["phase"] = "warmup"
                self.calls.append(rec)
                warm.append(rec["call_s"])
            self.setups.append({
                "session.build_s": t1 - t0, "registry.load_s": t2 - t1,
                "warmup.s": sum(warm), "setup_s": t2 - t0 + sum(warm),
            })

    def timed(self, seconds: float, tracer=None) -> float:
        """Whole passes, at least two, until ``seconds`` have passed; returns
        the peak RSS. With a tracer, each op is traced on every other pass
        (alternating between ops too), so traced and untraced calls share
        the warm-up trend and every op is traced at least once."""
        start = time.perf_counter()
        n_pass = 0
        with PeakRss(self.tree) as peak:
            while n_pass < 2 or time.perf_counter() - start < seconds:
                order = list(self.workload.ops)
                self.rng.shuffle(order)
                for op in order:
                    traced = tracer is not None and (n_pass + self.workload.ops.index(op)) % 2
                    if traced:
                        call_id = len(self.calls)
                        run_call = lambda op=op, i=call_id: tracer.call(
                            i, op, self.fns[op], self.corpus, self.origin)
                    else:
                        run_call = lambda op=op: self._plain(op)
                    rec = self._checked(op, run_call)
                    rec["phase"] = "traced" if traced else "timed"
                    rec["pass"] = n_pass
                    self.calls.append(rec)
                n_pass += 1
        return peak.peak

    def stop(self) -> None:
        """Stop Spark, then the JVM it runs in, and wait for both to end."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def end_to_end(runner: Runner) -> tuple[dict, dict]:
    timed = [c for c in runner.calls if c["phase"] == "timed"]
    lat = [c["call_s"] for c in timed]
    values = {
        "setup_s": statistics.median(s["setup_s"] for s in runner.setups),
        "ops_per_s": len(lat) / sum(lat),
        "call_s.p50": statistics.median(lat),
        "cpu_s_per_op": sum(c["cpu_s"] for c in timed) / len(timed),
    }
    samples = {k: len(lat) for k in values}
    samples["setup_s"] = len(runner.setups)
    return values, samples


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(REPO, PACKAGE, "registry.py")) or not os.path.isfile(
        os.path.join(REPO, "tools", "gen_sf_amplify.py")
    ):
        print(f"perfbench: the program ({PACKAGE}/, tools/) is not next to "
              f"{HERE}; run it from a full checkout", file=sys.stderr)
        return 2

    workload = WORKLOADS[args.workload]
    load_start, ticks_start = os.getloadavg(), cpu_ticks()
    dirs = isolate(os.path.join(HERE, "work", workload.name))
    sys.path.insert(0, REPO)
    import check
    import corpus
    import tracing

    from highspeedrailwaybigdatasystem_spark import registry

    prepared = corpus.prepare(REPO, os.path.join(HERE, "data", workload.name),
                              workload.corpus, args.seed)
    oracles = registry.all_oracles()
    t0 = time.perf_counter()
    expected = check.oracle_digests(prepared["path"], {op: oracles[op] for op in workload.ops})
    oracle_s = time.perf_counter() - t0

    runner = Runner(workload, prepared["path"], expected, args.seed, check.digest)
    tracer = None
    try:
        runner.setup()
        if args.trace:
            tracer = tracing.Tracer(runner.spark, [dirs["scratch"], dirs["cwd"]])
        peak_rss = runner.timed(args.seconds, tracer)
        sc = runner.spark.sparkContext
        spark_info = {
            "master": sc.master, "defaultParallelism": sc.defaultParallelism,
            "shuffle_partitions": runner.spark.conf.get("spark.sql.shuffle.partitions"),
            "spark": runner.spark.version,
        }
        if tracer:
            tracer.close()
    finally:
        if runner.spark is not None:
            runner.stop()

    import pyspark

    failed = [c for c in runner.calls if not c["ok"]]
    e2e, samples = end_to_end(runner)
    e2e_error_rate = len(failed) / len(runner.calls)
    if args.trace:
        traced = [c["call_s"] for c in runner.calls if c["phase"] == "traced"]
        layer = tracing.summarize(tracer.records, spark_info["defaultParallelism"])
        for k in ("session.build_s", "registry.load_s", "warmup.s"):
            layer[k] = statistics.median(s[k] for s in runner.setups)
        layer["corpus.prep_s"] = prepared["prep_s"]
        layer["rss.peak_mb"] = peak_rss
        layer["jit.cpu_s"] = statistics.mean(
            c["jit_s"] for c in runner.calls if c["phase"] == "traced")
        layer["trace.overhead"] = e2e["ops_per_s"] / (len(traced) / sum(traced)) - 1
        metrics = layer
    else:
        metrics = e2e

    artifact = {
        "workload": workload.name, "why": workload.why, "ops": list(workload.ops),
        "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "host": {
            "cpus": len(os.sched_getaffinity(0)), "platform": platform.platform(),
            "python": platform.python_version(),
            "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
            "cpu_ticks": {k: v - ticks_start[k] for k, v in cpu_ticks().items()},
        },
        "spark": {**spark_info, "pyspark": pyspark.__version__},
        "source": source_identity(),
        "corpus": prepared, "oracle_s": oracle_s,
        "setups": runner.setups,
        "end_to_end": e2e, "samples": samples, "error_rate": e2e_error_rate,
        "peak_rss_mb": peak_rss,
        "metrics": metrics,
        "calls": runner.calls,
    }
    if tracer:
        artifact["trace_records"] = tracer.records
        artifact["spans"] = tracer.spans
    out_dir = os.path.join(HERE, "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{workload.name}-seed{args.seed}-trace{args.trace}.json"),
              "w") as fh:
        json.dump(artifact, fh, indent=1, default=str)

    for name, value in e2e.items():
        print(f"{workload.name} {name} = {value:.6g} {END_TO_END_UNITS[name]} "
              f"(n={samples[name]})")
    print(f"{workload.name} peak_rss_mb = {peak_rss:.6g} MB (n=1, not gated)")
    print(f"{workload.name} error_rate = {e2e_error_rate:.6g} ratio (n={len(runner.calls)})")
    for c in failed:
        print(f"FAILED {c['op']} ({c['phase']}): {c['error']}", file=sys.stderr)
    units = tracing.UNITS if args.trace else END_TO_END_UNITS
    print(json.dumps({
        "correct": not failed, "attempted": len(runner.calls), "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
