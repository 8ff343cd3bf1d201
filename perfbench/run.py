"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload idr_events --seed 3 --seconds 12 --trace 0

Run from the root of a checkout. The run generates (or reuses) the
seeded inputs, starts a ``local[2]`` session, sets the workload up,
runs its fixed warm-up ops, then runs ops for ``--seconds`` seconds,
one at a time (a closed loop with one client). Each op's sink outputs
are digested outside the timed interval and compared with the run's
first op and, for the default seed, with the digest recorded in
``expected.json``.

It prints one line per metric (with unit and sample count), then, as
the last line of standard output, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A traced run
alternates untraced and traced ops, so ``trace.overhead_frac`` compares
the two within one session.

Everything the run writes stays under ``.perfbench_work`` in the
current directory.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEFAULT_SEED = 0
CORES = 2

# Fixed warm-up ops per workload, counted in setup_s: the first ops of
# a session run 2-6x slower while the JVM compiles the engine's hot
# paths (NOTES.md, "cold-JIT decay").
WARMUP = {"idr_refresh": 2, "idr_events": 3}
# at least this many timed ops, even if --seconds runs out first; the
# run's op_p50_s is the median of these, so one slow op cannot move it
MIN_OPS = {"idr_refresh": 5, "idr_events": 8}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=12.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record", action="store_true",
                   help="write the default seed's digests to expected.json")
    return p.parse_args(argv)


# The ops are bound by driver-side plan building and many small jobs.
# With the default tiered JIT their op times kept falling for 10-20 ops
# and background C2 compiles added 6-8 s of CPU to each op; with C1
# only they are close to flat from the second op. G1's background threads made
# the JVM's CPU per event op swing between 2.0 and 3.8 s; the serial
# collector holds it at 1.6-2.0 s (NOTES.md, noise source 1).
JAVA_OPTS = ["-XX:TieredStopAtLevel=1", "-XX:+UseSerialGC"]


def _session(work):
    from idr_data_pipelines_spark.session import get_spark

    local = os.path.join(work, "local")
    os.makedirs(local, exist_ok=True)
    java_opts = [
        f"-Djava.io.tmpdir={local}",
        "-XX:-UsePerfData",  # no hsperfdata files outside the checkout
    ] + JAVA_OPTS
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": " ".join(java_opts),
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark):
    """Stop the session, then the JVM and every process it started,
    and wait until each has ended."""
    import probes
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        # a later session in this process must launch a new JVM
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a JVM that ignores EOF is killed
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline:
        left = [p for p in probes.tree_pids() if p != os.getpid()]
        if not left:
            return
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    for pid in left:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def tail_stat(times):
    """(percentile, value) of the highest percentile with at least 10
    samples beyond it, or None when there are fewer than 11 samples."""
    n = len(times)
    if n < 11:
        return None
    k = n - 11  # 0-based order statistic with exactly 10 above it
    return 100.0 * (k + 1) / n, sorted(times)[k]


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


class Run:
    def __init__(self, args):
        import gen
        import probes
        import workloads

        self.args = args
        self.gen, self.probes = gen, probes
        self.W = workloads.WORKLOADS[args.workload]
        self.work = os.path.join(os.getcwd(), ".perfbench_work")
        self.run_dir = os.path.join(self.work, f"run-{os.getpid()}")
        self.tracer = None

    def main(self):
        return self._in_session(self._drive)

    def traced_ops(self, n):
        """Per-layer numbers of ``n`` consecutive traced ops after one
        untraced warm-up op, all in one session (for the self-test)."""
        def drive(spark, inputs, session_s, steal0):
            wl = self.W(spark, inputs, self.run_dir)
            wl.setup()
            wl.setup_digest()
            self.jvm = spark.sparkContext._jvm
            self._op(wl, 0, traced=False)
            return [self._op(wl, 1 + k, traced=True) for k in range(n)]

        self.args.trace = 1
        return self._in_session(drive)

    def _in_session(self, drive):
        args, W = self.args, self.W
        # a killed run may have left a directory under a reused pid
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.run_dir)
        os.environ["TMPDIR"] = os.path.join(self.run_dir, "local")
        os.makedirs(os.environ["TMPDIR"], exist_ok=True)
        inputs = self.gen.inputs(W.kind, args.seed, os.path.join(self.work, "inputs"))
        if args.trace:
            import spans

            self.tracer = spans.Tracer()
            self.tracer.install()
        steal0 = self.probes.steal_s()
        t0 = time.perf_counter()
        spark = _session(self.run_dir)
        session_s = time.perf_counter() - t0
        try:
            if self.tracer:
                self.tracer.attach(spark)
            return drive(spark, inputs, session_s, steal0)
        finally:
            _stop(spark)
            if self.tracer:
                self.tracer.uninstall()

    def _drive(self, spark, inputs, session_s, steal0):
        args, W = self.args, self.W
        wl = W(spark, inputs, self.run_dir)
        t = time.perf_counter()
        wl.setup()
        setup_s = session_s + time.perf_counter() - t
        # the set-up's output check, outside the timed interval
        self.setup_digest = wl.setup_digest()
        self.jvm = spark.sparkContext._jvm
        self.setup_parts = [session_s, setup_s - session_s]
        self.ref = None
        warm = [self._checked(wl, i, traced=False) for i in range(WARMUP[W.name])]
        setup_s += sum(r["wall"] for r in warm)
        self.setup_parts += [r["wall"] for r in warm]
        recs = []
        deadline = time.perf_counter() + args.seconds
        i = len(warm)
        while time.perf_counter() < deadline or len(recs) < MIN_OPS[W.name]:
            # a traced run alternates untraced and traced ops
            recs.append(self._checked(wl, i, traced=bool(self.tracer) and len(recs) % 2 == 1))
            i += 1
        attempted = len(warm) + len(recs)
        failed = sum(not r["ok"] for r in warm + recs)
        ref = self.ref
        expected_ok = self._check_expected(ref)
        peak_rss = self.probes.tree_peak_rss_mb()
        run_steal = self.probes.steal_s() - steal0
        return self._report(recs, attempted, failed, expected_ok, setup_s,
                            session_s, peak_rss, run_steal)

    def _checked(self, wl, i, traced):
        """Run op ``i``; it is ok when it raised nothing and its digest
        equals the first op's."""
        rec = self._op(wl, i, traced)
        if self.ref is None and rec["digest"] is not None:
            self.ref = rec["digest"]
        rec["ok"] = rec["digest"] is not None and rec["digest"] == self.ref
        return rec

    def _op(self, wl, i, traced):
        probes = self.probes
        wl.prepare(i)
        gc.collect()
        self.jvm.System.gc()
        pids = probes.tree_pids()
        cpu0, steal0 = probes.tree_cpu_s(pids), probes.steal_s()
        job_lo = self.tracer.begin_op() if traced else None
        err = None
        t_wall0 = time.time()
        t = time.perf_counter()
        try:
            wl.op(i)
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            err = exc
        wall = time.perf_counter() - t
        job_hi = self.tracer.end_op() if traced else None
        steal = probes.steal_s() - steal0
        cpu = probes.tree_cpu_s(probes.tree_pids()) - cpu0
        rec = {"i": i, "wall": wall, "cpu": cpu, "steal": steal, "traced": traced,
               "digest": None, "out_bytes": 0, "facts": {}}
        if err is not None:
            print(f"# op {i} failed: {err!r}"[:500], file=sys.stderr)
            rec["wall"] = math.inf
            return rec
        try:
            rec["digest"], rec["out_bytes"], rec["facts"] = wl.check(i)
        except Exception as exc:  # noqa: BLE001 — a failed check fails the op
            print(f"# op {i} check failed: {exc!r}"[:500], file=sys.stderr)
            return rec
        rec["in_bytes"] = wl.op_input_bytes(i)
        if traced:
            m = self.tracer.summarize(wall, job_lo, job_hi)
            # data files the op's sink calls wrote (by modification time)
            written = [os.path.join(root, f)
                       for p in self.tracer.sink_paths() for root, _d, fs in os.walk(p)
                       for f in fs if not f.startswith((".", "_"))]
            written = [p for p in written if os.path.getmtime(p) >= t_wall0]
            m["sources.sinks.files"] = len(written)
            m["sources.sinks.bytes"] = sum(os.path.getsize(p) for p in written)
            for k, v in rec["facts"].items():
                m[k] = v
            rec["layers"] = m
            rec["spans"] = self.tracer.records(i)
        return rec

    def _check_expected(self, ref):
        """For the default seed, the first op's digest (and the
        workload's setup digest) must equal the recorded ones."""
        path = os.path.join(HERE, "expected.json")
        got = {"setup": self.setup_digest, "op": ref}
        if self.args.record:
            data = {}
            if os.path.exists(path):
                with open(path) as fh:
                    data = json.load(fh)
            data[self.W.name] = {"seed": self.args.seed, **got}
            with open(path, "w") as fh:
                json.dump(data, fh, indent=1, sort_keys=True)
                fh.write("\n")
            return True
        if self.args.seed != DEFAULT_SEED:
            return True
        try:
            with open(path) as fh:
                want = json.load(fh).get(self.W.name)
        except FileNotFoundError:
            return False
        return want is not None and want["setup"] == got["setup"] and want["op"] == got["op"]

    def _report(self, recs, attempted, failed, expected_ok, setup_s,
                session_s, peak_rss, run_steal):
        plain = [r for r in recs if not r["traced"]]
        traced = [r for r in recs if r["traced"]]
        walls = [r["wall"] for r in plain]
        ok_plain = [r for r in plain if r["ok"]]
        n = len(walls)
        e2e = {
            "setup_s": (setup_s, "s", 1),
            "op_p50_s": (_median(walls), "s", n),
            "op_cpu_s": (_median([r["cpu"] for r in ok_plain]), "s", len(ok_plain)),
            "out_bytes_ratio": (
                _median([r["out_bytes"] / r["in_bytes"] for r in ok_plain]), "ratio",
                len(ok_plain)),
        }
        tail = tail_stat(walls)
        thirds = max(1, n // 3)
        print(f"# workload={self.W.name} seed={self.args.seed} warmup_ops={WARMUP[self.W.name]} "
              f"timed_ops={n} traced_ops={len(traced)}")
        for k, (v, unit, cnt) in e2e.items():
            print(f"# {k} = {v:.6g} {unit} (n={cnt})")
        print("# setup_s parts (session, workload set-up, warm-up ops): "
              + " ".join(f"{x:.2f}" for x in self.setup_parts))
        print("# op walls: " + " ".join(f"{w:.3f}" for w in walls))
        print("# op cpu: " + " ".join(f"{r['cpu']:.2f}" for r in plain))
        if tail:
            print(f"# op_tail_s = {tail[1]:.6g} s (p{tail[0]:.0f}, n={n})")
        else:
            print(f"# op_tail_s = n/a (needs 11 timed ops, have {n})")
        print(f"# ops_failed_frac = {failed / attempted:.6g} ({failed}/{attempted})")
        print(f"# op trend: first-third median {_median(walls[:thirds]):.4g} s, "
              f"last-third median {_median(walls[-thirds:]):.4g} s")
        print(f"# host.steal_s = {run_steal:.3f} s per run; per op: "
              + " ".join(f"{r['steal']:.2f}" for r in recs))
        if self.args.seed == DEFAULT_SEED:
            against = f"first-op digest {'matches' if expected_ok else 'DIFFERS from'} expected.json"
        else:
            against = f"expected.json holds seed {DEFAULT_SEED} only"
        print(f"# output check: {'pass' if failed == 0 and expected_ok else 'FAIL'} "
              f"({failed} of {attempted} ops failed or differ from the first op; {against})")
        if self.args.trace:
            metrics = self._layers(traced, walls, session_s, peak_rss, run_steal)
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items()}
        if self.args.trace:
            for k, v in metrics.items():
                print(f"# {k} = {v['value']:.6g} {v['unit']}")
        result = {
            "correct": failed == 0 and expected_ok,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }
        print(json.dumps(result))
        return 0

    def _layers(self, traced, untraced_walls, session_s, peak_rss, run_steal):
        import spans

        path = os.path.join(self.work, "traces",
                            f"{self.W.name}-seed{self.args.seed}-{os.getpid()}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([s for r in traced for s in r.get("spans", ())], fh)
        print(f"# spans written to {os.path.relpath(path)}")
        per_op = [r["layers"] for r in traced if "layers" in r]
        t_walls = [r["wall"] for r in traced]
        cover = [m.get("trace.top_cover_frac", 0.0) for m in per_op]
        print(f"# top-level span cover per traced op: min {min(cover, default=0):.3f}")
        out = {}
        for name, unit in spans.PER_LAYER:
            if name == "session.start_s":
                v = session_s
            elif name == "session.peak_rss_mb":
                v = peak_rss
            elif name == "host.steal_s":
                v = run_steal
            elif name == "trace.overhead_frac":
                v = _median(t_walls) / _median(untraced_walls) - 1
            else:
                v = _median([m.get(name, 0.0) for m in per_op]) if per_op else 0.0
            out[name] = {"value": v, "unit": unit}
        return out


def main(argv=None):
    args = _args(argv)
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import idr_data_pipelines_spark  # noqa: F401
        import workloads
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    run = Run(args)
    try:
        return run.main()
    finally:
        shutil.rmtree(run.run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
