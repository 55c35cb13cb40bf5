#!/usr/bin/env python3
"""Store benchmark: carbon-style ingest and dashboard reads against
``WhisperStore`` on ``local[<nproc>]`` with the engine's session defaults.

    python3 perfbench/run.py --workload {ingest,dashboard} --seed N \
        --seconds S --trace {0,1}

Run from the repository root.  Inputs come from ``gen.py`` and the seed;
outputs are checked, untimed, against the DuckDB model in ``model.py``.
End-to-end times are scaled to a reference host speed by the probe in
``hostspeed.py``.
The last stdout line is one JSON object: the end-to-end metrics with
``--trace 0``, the per-layer metrics (from ``spans.py``) with ``--trace 1``.
The exit code is 0 only when every check passes.  See README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()
T_MONO = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_LIMIT_S = 170  # a run must end within 180 s

END_TO_END = {
    "setup_s": "s",
    "write_p50_s": "s",
    "ingest_points_per_s": "1/s",
    "fetch_mean_ms": "ms",
    "render_mean_ms": "ms",
    "compact_s": "s",
    "store_bytes_per_point": "B",
}

#: timed ingest flushes, however short --seconds is.  A flush takes 7-14 s
#: on 4 cores after a 20-35 s cold first one, which is set-up; one keeps an
#: ingest run near 80 s on a slow host, each further one adds ~15 s with its
#: reads, more than the time limit of a full set of runs allows
INGEST_FLUSHES = 1
#: read-your-writes reads after each ingest flush
INGEST_FETCHES, INGEST_RENDERS = 4, 8
#: timed compactions after the ingest loop: the store and copies of it
INGEST_COMPACTIONS = 3
#: timed dashboard compactions: the imported store and copies of it
DASHBOARD_COMPACTIONS = 5
#: rounds of the dashboard read mix, however short --seconds is
DASHBOARD_ROUNDS = 1


def _environment(work: str) -> None:
    """Keep every file the run makes inside ``work`` and let Spark's Python
    workers import the package whatever the working directory."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def _on_alarm(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def _dir_stats(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``path``."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Run:
    """One benchmark run: a session, a store and the samples it yields."""

    def __init__(self, args, work: str, probe):
        self.args = args
        self.work = work
        self.probe = probe
        self.samples: dict[str, list[float]] = {}
        #: (start, end) in time.monotonic() of each sample in ``samples``
        self.when: dict[str, list[tuple[float, float]]] = {}
        self.untraced: dict[str, list[float]] = {}
        self.phases: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.checks: list[str] = []  # failed check descriptions
        self.ratios: dict[str, float] = {}

    # -------------------------------------------------------------- setup

    def start(self):
        import gen
        from spans import Tracer
        from whisper_spark.session import get_spark
        from whisper_spark.store import INPUT_SCHEMA, WhisperStore

        self.gen, self.WhisperStore, self.schema = gen, WhisperStore, INPUT_SCHEMA
        #: (step, retention) of the workload's store, for the model
        self.archives = gen.ARCHIVES
        t = time.perf_counter()
        nproc = len(os.sched_getaffinity(0))
        self.spark = get_spark(app_name="perfbench", master=f"local[{nproc}]")
        self.phases["session.get_spark_s"] = time.perf_counter() - t
        self.tracer = Tracer(self.spark)
        if self.args.trace:
            self.tracer.install()
            self.tracer.enabled = True

    def frame(self, pdf):
        return self.spark.createDataFrame(pdf, self.schema)

    def new_store(self, name: str):
        return self.WhisperStore.create(
            self.spark, os.path.join(self.work, name), self.gen.POLICY,
            x_files_factor=self.gen.XFF,
        )

    # ---------------------------------------------------------- operations

    def op(self, kind: str, fn, *, timed=True):
        """Run one operation; a failure is counted and reported, never
        swallowed, and leaves no latency sample."""
        if timed:
            self.attempted += 1
        m = time.monotonic()
        t = time.perf_counter()
        try:
            with self.tracer.op(f"op.{kind}", phase="loop" if timed else "setup") as span:
                out = fn(span)
        except Exception:
            if not timed:
                raise
            self.failed += 1
            traceback.print_exc()
            return None
        dt = time.perf_counter() - t
        if timed:
            if self.tracer.enabled or not self.args.trace:
                self.samples.setdefault(kind, []).append(dt)
                self.when.setdefault(kind, []).append((m, time.monotonic()))
            else:
                self.untraced.setdefault(kind, []).append(dt)
        return out

    def write(self, store, pdf, now):
        sdf = self.frame(pdf)
        points = os.path.join(store.path, "points")
        before = _dir_stats(points) if self.tracer.enabled else None

        def body(span):
            store.update_many(sdf, now=now)
            if span is not None:
                files, size = _dir_stats(points)
                span["attrs"].update(
                    files_written=files - before[0],
                    bytes_written_per_point=(size - before[1]) / len(pdf),
                )
            return True

        return body

    @staticmethod
    def fetch(store, metrics, frm, until, now):
        def body(span):
            ti, df = store.fetch(metrics, from_time=frm, until_time=until, now=now)
            rows = df.collect()
            if span is not None:
                span["attrs"]["rows"] = len(rows)
            return ti, rows

        return body

    @staticmethod
    def render(store, target, frm, until, now, max_datapoints=None):
        def body(span):
            out, step = store.render(
                target, from_time=frm, until_time=until, now=now,
                max_datapoints=max_datapoints,
            )
            rows = out.collect()
            if span is not None:
                span["attrs"]["rows"] = len(rows)
            return rows

        return body

    def copies(self, store, n):
        """``n`` copies of ``store``, so compaction can be timed more than
        once on the same files."""
        out = []
        for i in range(n):
            path = f"{store.path}.copy{i}"
            shutil.copytree(store.path, path)
            out.append(self.WhisperStore.open(self.spark, path))
        return out

    @staticmethod
    def compact(store, now):
        points = os.path.join(store.path, "points")
        live = _dir_stats(points)[0]

        def body(span):
            store.compact(now=now)
            if span is not None:
                span["attrs"].update(files_live=live, bytes_rewritten=_dir_stats(points)[1])
            return True

        return body

    def compact_checked(self, store, now) -> None:
        """Compact ``store``, untimed, and check that no live value changed."""
        before = self.report(store, now)
        self.op("compact", self.compact(store, now), timed=False)
        if self.report(store, now) != before:
            self.checks.append(f"{store.path}: compaction_report live values changed")

    def report(self, store, now):
        def body(span):
            rows = store.compaction_report(now=now).select(
                "resolution", "tb", "metric", "n_live", "live_value_sum"
            ).collect()
            return sorted(tuple(r) for r in rows)

        return self.op("report", body, timed=False)

    # ------------------------------------------------------------ checks

    def check_fetch(self, con, label, metrics, frm, until, now, got):
        import model

        ti, rows = got
        want_ti, want = model.expected_fetch(con, metrics, frm, until, now, self.archives)
        if tuple(ti) != want_ti:
            self.checks.append(f"{label}: window {tuple(ti)} != {want_ti}")
            return
        have = {(r["metric"], r["ts"]): r["value"] for r in rows}
        if len(rows) != len(have) or have.keys() != want.keys():
            self.checks.append(f"{label}: {len(rows)} rows, want {len(want)} slots")
            return
        bad = [k for k in want if not model.same(have[k], want[k])]
        if bad:
            k = bad[0]
            self.checks.append(f"{label}: {len(bad)} slots differ, e.g. {k}: {have[k]} != {want[k]}")

    def check_sum_series(self, con, label, pattern, frm, until, now, rows):
        import model

        want = model.expected_sum_series(con, pattern, frm, until, now, self.archives)
        have = {r["ts"]: r["value"] for r in rows}
        if have.keys() != want.keys():
            self.checks.append(f"{label}: {len(have)} slots, want {len(want)}")
            return
        bad = [t for t in want if not model.same(have[t], want[t])]
        if bad:
            self.checks.append(f"{label}: {len(bad)} slots differ, e.g. {bad[0]}")

    # ---------------------------------------------------------- workloads

    def ingest(self):
        """Flushes into a fresh store, each followed by read-your-writes
        fetches and ``sumSeries`` renders; compactions after the loop."""
        import pandas as pd

        import model

        gen, seed = self.gen, self.args.seed
        self.write_kind = "write"
        store = self.new_store("ingest")
        sent = []  # (batch, now, frame) of every flush written, for the model

        def flush(b, timed):
            pdf = gen.ingest_flush(seed, b)
            now = gen.flush_now(b)
            if self.op("write", self.write(store, pdf, now), timed=timed):
                sent.append((b, now, pdf))
            return now

        # the first write, fetch and render of a process are several times
        # slower than the next ones; they prime the store and are set-up
        names = gen.series_names(gen.INGEST_HOSTS)
        t = time.perf_counter()
        now = flush(0, timed=False)
        self.op("fetch", self.fetch(store, names[:3], now - 1800, now, now), timed=False)
        self.op("render", self.render(store, "sumSeries(servers.h00*.cpu)", now - 1800, now, now),
                timed=False)
        self.phases["session.warmup_s"] = time.perf_counter() - t
        self.setup_done()

        reads = []
        b = 0
        while b < INGEST_FLUSHES or time.perf_counter() - self.t_timed < self.args.seconds:
            b += 1
            self.interleave(0)
            now = flush(b, timed=True)
            # a traced run traces every write, and every other read
            for k in range(INGEST_FETCHES):
                self.interleave(k)
                pick = [names[(b * 7 + k * 31 + j * 13) % len(names)] for j in range(3)]
                got = self.op("fetch", self.fetch(store, pick, now - 1800, now, now))
                if got is not None:
                    reads.append(("fetch", b, pick, now, got))
            for k in range(INGEST_RENDERS):
                self.interleave(k)
                pattern = f"servers.h0{(b + k) % 4}*.cpu"
                got = self.op("render", self.render(store, f"sumSeries({pattern})",
                                                    now - 1800, now, now))
                if got is not None:
                    reads.append(("sum", b, pattern, now, got))
        self.tracer.enabled = bool(self.args.trace)

        # write time only: the reads between the writes are not in it
        self.accepted = sum(len(p) for bb, _, p in sent if bb > 0)
        self.ratios["store_bytes_per_point"] = (
            _dir_stats(os.path.join(store.path, "points"))[1]
            / sum(len(p) for _, _, p in sent)
        )
        now = sent[-1][1]
        # the first compaction of a process is slower than the next ones:
        # the checked one, on a copy, runs untimed
        copies = self.copies(store, INGEST_COMPACTIONS)
        self.compact_checked(copies[0], now)
        for c in copies[1:] + [store]:
            self.op("compact", self.compact(c, now))
        for c in copies:
            shutil.rmtree(c.path)

        models = {}
        for kind, bb, what, now, got in reads:
            if bb not in models:
                upto = [p.assign(batch=x, now=nw) for x, nw, p in sent if x <= bb]
                models[bb] = model.build(pd.concat(upto, ignore_index=True))
            label = f"ingest flush {bb} {kind}"
            if kind == "fetch":
                self.check_fetch(models[bb], label, what, now - 1800, now, now, got)
            else:
                self.check_sum_series(models[bb], label, what, now - 1800, now, now, got)

    def dashboard(self):
        """An import of a 500-series whisper tree into a fresh store,
        compactions of it and of copies of it, then a fixed seeded mix of
        fetches and renders on it, each collected into the Python process."""
        import model
        from whisper_spark.sources import wsp

        gen, seed = self.gen, self.args.seed
        now = gen.DASH_NOW
        self.write_kind = "import"
        self.archives = [(step, step * n) for step, n in gen.DASH_ARCHIVES]

        def importer(name):
            def body(span):
                return wsp.import_wsp(
                    self.spark, os.path.join(root, "*", "*", "*.wsp"),
                    os.path.join(self.work, name), root=root,
                )

            return body

        # the first import and compaction of a process, and the first read
        # of each shape, are several times slower than the next ones: they
        # run untimed, on a store of their own
        t = time.perf_counter()
        slots = gen.dashboard_archives(seed)
        root = os.path.join(self.work, "whisper")
        gen.write_whisper_tree(slots, root)
        ops = gen.dashboard_ops(seed)
        warm = self.op("import", importer("warm"), timed=False)
        self.op("compact", self.compact(warm, now), timed=False)
        warmed = set()  # fetch ranges read once already
        for o in ops:
            if o["kind"] != "fetch" or o["range"] not in warmed:
                self.op(self.kind(o), self.read(warm, o, now), timed=False)
                if o["kind"] == "fetch":
                    warmed.add(o["range"])
        self.phases["session.warmup_s"] = time.perf_counter() - t
        self.setup_done()

        store = self.op("import", importer("dashboard"))
        if store is None:
            raise RuntimeError("the dashboard import failed")
        self.accepted = len(slots)
        self.ratios["store_bytes_per_point"] = (
            _dir_stats(os.path.join(store.path, "points"))[1] / len(slots)
        )
        # the first compaction after an import is slower than the next
        # ones: it runs untimed, on a copy.  The loop reads a compacted
        # store and checks what it read against the model, which covers
        # the compaction too
        copies = self.copies(store, DASHBOARD_COMPACTIONS)
        self.op("compact", self.compact(copies[0], now), timed=False)
        for st in copies[1:] + [store]:
            self.op("compact", self.compact(st, now))
        for c in copies:
            shutil.rmtree(c.path)

        def run(o):
            return self.op(self.kind(o), self.read(store, o, now))

        # whole rounds only, so every run samples the same mix of shapes; a
        # traced run alternates traced and untraced rounds, two at least
        results = []
        rounds = 0
        want = max(DASHBOARD_ROUNDS, 2 * self.args.trace)
        while rounds < want or time.perf_counter() - self.t_timed < self.args.seconds:
            self.interleave(rounds)
            for o in ops:
                got = run(o)
                if got is not None:
                    results.append((o, got))
            rounds += 1
        self.tracer.enabled = bool(self.args.trace)

        con = model.build_imported(slots, [step for step, _ in gen.DASH_ARCHIVES])
        for n, (o, got) in enumerate(results):
            frm = now - o["range"]
            label = f"dashboard op {n} {o['kind']}"
            if o["kind"] == "fetch":
                self.check_fetch(con, label, o["metrics"], frm, now, now, got)
            elif o["kind"] == "glob":
                names, res = got
                if len(names) != 50:
                    self.checks.append(f"{label}: glob matched {len(names)} series, want 50")
                self.check_fetch(con, label, names, frm, now, now, res)
            elif o["target"].startswith("sumSeries("):
                self.check_sum_series(con, label, o["target"][10:-1], frm, now, now, got)
            elif not got:
                self.checks.append(f"{label}: {o['target']} returned no rows")

    @staticmethod
    def kind(o) -> str:
        """The latency sample kind of dashboard read ``o``."""
        return "fetch" if o["kind"] == "glob" else o["kind"]

    def read(self, store, o, now):
        """The body of dashboard read ``o`` (from ``gen.dashboard_ops``)."""
        frm = now - o["range"]
        if o["kind"] == "fetch":
            return self.fetch(store, o["metrics"], frm, now, now)
        if o["kind"] == "render":
            return self.render(store, o["target"], frm, now, now, o.get("max_datapoints"))

        def body(span):
            names = [r["node"] for r in store.find(o["pattern"]).collect() if r["is_leaf"]]
            return names, self.fetch(store, names, frm, now, now)(span)

        return body

    def interleave(self, i: int) -> None:
        """In a traced run, leave every other operation (or round) untraced:
        the difference of their latencies is the tracing overhead."""
        self.tracer.enabled = bool(self.args.trace) and i % 2 == 0

    def setup_done(self):
        self.t_timed = time.perf_counter()
        self.setup_s = self.t_timed - T_START
        self.setup_when = (T_MONO, time.monotonic())

    # ------------------------------------------------------------ results

    def peak_rss_mb(self) -> float:
        jvm = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm)) / 1024.0

    def scaled(self, kind: str) -> list[float]:
        """The samples of ``kind`` at the probe's reference host speed."""
        return [self.probe.scale(dt, *w) for dt, w in zip(self.samples[kind], self.when[kind])]

    def end_to_end(self) -> dict:
        """The end-to-end metrics, every time at the reference host speed
        (``hostspeed.py``)."""
        writes = self.scaled(self.write_kind)
        return {
            "setup_s": self.probe.scale(self.setup_s, *self.setup_when),
            "write_p50_s": statistics.median(writes),
            "ingest_points_per_s": self.accepted / sum(writes),
            "fetch_mean_ms": statistics.fmean(self.scaled("fetch")) * 1e3,
            "render_mean_ms": statistics.fmean(self.scaled("render")) * 1e3,
            "compact_s": statistics.median(self.scaled("compact")),
            "store_bytes_per_point": self.ratios["store_bytes_per_point"],
        }

    def unscaled(self) -> dict:
        """The same timings as measured, for the printed table."""
        s = self.samples
        return {
            "setup_s": self.setup_s,
            "write_p50_s": statistics.median(s[self.write_kind]),
            "fetch_mean_ms": statistics.fmean(s["fetch"]) * 1e3,
            "render_mean_ms": statistics.fmean(s["render"]) * 1e3,
            "compact_s": statistics.median(s["compact"]),
        }

    def stop(self):
        from pyspark import SparkContext

        spark = getattr(self, "spark", None)
        if spark is None:
            return
        self.tracer.uninstall()
        spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            proc.wait(timeout=60)
        self.spark = None


def _print_table(workload: str, metrics: dict, counts: dict, raw: dict) -> None:
    for name, m in metrics.items():
        n = counts.get(name)
        extra = f"  (n={n})" if n is not None else ""
        if name in raw:
            extra += f"  as measured {raw[name]:.6g}"
        print(f"{workload:10s} {name:42s} {m['value']:>16.6g} {m['unit']}{extra}")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["ingest", "dashboard"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    env = {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": os.getloadavg(),
        "python": platform.python_version(),
    }
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(RUN_LIMIT_S)
    run = None
    sys.path[:0] = [ROOT, HERE]
    import hostspeed

    probe = hostspeed.Probe(os.path.join(work, "hostspeed.txt"))
    try:
        _environment(work)
        import pyspark

        env["spark"] = pyspark.__version__
        run = Run(args, work, probe)
        run.start()
        getattr(run, args.workload)()
        probe.stop()
        raw = {}
        if args.trace:
            import layers

            metrics = layers.per_layer(run)
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            trace_path = os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.json")
            run.tracer.dump(trace_path, {**env, **vars(args)})
            print(f"spans: {trace_path}")
            counts = {}
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in run.end_to_end().items()}
            raw = run.unscaled()
            env["host_speed"] = probe.speed(T_MONO, time.monotonic()) / hostspeed.REFERENCE_SPEED
            counts = {
                "write_p50_s": len(run.samples.get(run.write_kind, [])),
                "fetch_mean_ms": len(run.samples.get("fetch", [])),
                "render_mean_ms": len(run.samples.get("render", [])),
                "compact_s": len(run.samples["compact"]),
            }
    finally:
        if run is not None:
            run.stop()
        probe.stop()
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)

    print("env: " + json.dumps(env))
    for c in run.checks:
        print(f"CHECK FAILED: {c}")
    _print_table(args.workload, metrics, counts, raw)
    correct = not run.checks
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
