"""Self-tests of the store benchmark.

    python3 -m pytest perfbench/test_perfbench.py -q

The generator and oracle tests need no Spark.  The ``test_e2e_*`` tests
run the benchmark itself, about a minute per run; ``-k "not e2e"`` skips
them.
"""

from __future__ import annotations

import glob
import json
import os
import struct
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import model  # noqa: E402


def test_generator_is_deterministic_per_seed():
    for b in (0, 1, 5):
        pd.testing.assert_frame_equal(gen.ingest_flush(7, b), gen.ingest_flush(7, b))
    pd.testing.assert_frame_equal(gen.dashboard_archives(7), gen.dashboard_archives(7))
    assert gen.dashboard_ops(7) == gen.dashboard_ops(7)
    assert not gen.ingest_flush(7, 1).equals(gen.ingest_flush(8, 1))
    assert not gen.dashboard_archives(7).equals(gen.dashboard_archives(8))


def test_whisper_tree_holds_the_generated_slots(tmp_path):
    from whisper_spark.sources.wsp import POINT_FMT, POINT_SIZE, _parse_header

    slots = gen.dashboard_archives(2, n_hosts=1)
    gen.write_whisper_tree(slots, str(tmp_path))
    back = []
    for name in gen.series_names(1):
        with open(tmp_path.joinpath(*name.split(".")).with_suffix(".wsp"), "rb") as f:
            blob = f.read()
        _, max_ret, xff, archives = _parse_header(blob)
        assert max_ret == max(s * n for s, n in gen.DASH_ARCHIVES) and xff == gen.DASH_XFF
        assert [(s, n) for _, s, n in archives] == gen.DASH_ARCHIVES
        for off, step, n in archives:
            for i in range(n):
                ts, v = struct.unpack_from(POINT_FMT, blob, off + i * POINT_SIZE)
                if ts:
                    back.append((name, step, ts, v))
    want = sorted(slots.itertuples(index=False, name=None))
    assert sorted(back) == want


def test_ingest_flush_shape():
    now = gen.flush_now(3)
    pdf = gen.ingest_flush(11, 3)
    fresh = pdf[pdf.ts >= now - gen.FLUSH_SECONDS]
    resent = pdf[(pdf.ts < now - gen.FLUSH_SECONDS) & (pdf.ts >= now - 2 * gen.FLUSH_SECONDS)]
    old = pdf[now - pdf.ts > gen.ARCHIVES[0][1]]
    assert len(fresh) + len(resent) + len(old) == len(pdf)
    assert 0.02 < len(resent) / len(fresh) < 0.04
    assert 0.005 < len(old) / len(fresh) < 0.015
    assert (pdf.value == pdf.value.round()).all()


def test_model_rolls_up_through_the_xff_gate():
    # one metric, one minute: 3 of 6 slots known passes xff 0.5, 2 fails
    now = gen.T0 + 600
    rows = [("m", gen.T0 + 10 * i, float(i), i) for i in range(3)]
    rows += [("n", gen.T0 + 10 * i, float(i), i) for i in range(2)]
    rows += [("m", gen.T0, 9.0, 0)]  # re-sent in a later batch: it wins
    pts = pd.DataFrame(rows, columns=["metric", "ts", "value", "seq"])
    pts["batch"] = [0] * 5 + [1]
    pts["now"] = now
    con = model.build(pts)
    a1 = dict(con.execute("SELECT metric, value FROM a1").fetchall())
    assert a1 == {"m": (9.0 + 1.0 + 2.0) / 3}


def test_host_speed_probe_records_and_stops(tmp_path):
    import time

    import hostspeed

    probe = hostspeed.Probe(str(tmp_path / "speed.txt"))
    t0 = time.monotonic()
    time.sleep(0.5)
    t1 = time.monotonic()
    proc = probe.proc
    probe.stop()
    assert proc.poll() is not None
    speed = probe.speed(t0, t1)
    assert speed > 0
    assert probe.scale(2.0, t0, t1) == pytest.approx(2.0 * speed / hostspeed.REFERENCE_SPEED)
    # an interval with no sample in it takes the nearest sample's speed
    assert probe.speed(t1 + 60, t1 + 61) > 0


def _run(workload: str, seed: int, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=200,
    )
    assert p.returncode == 0, p.stdout[-2000:] + p.stderr[-2000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def _trace_file(workload: str, seed: int) -> dict:
    with open(os.path.join(ROOT, ".perfbench", "traces", f"{workload}-seed{seed}.json")) as f:
        return json.load(f)


def _first_loop_write(trace: dict) -> dict:
    return next(
        s["attrs"] for s in trace["spans"]
        if s["name"] == "op.write" and s["attrs"]["phase"] == "loop"
    )


def test_e2e_ingest_counts_repeat_exactly_for_a_seed():
    seed = 5
    ends = [_run("ingest", seed, 0)["metrics"]["store_bytes_per_point"]["value"] for _ in range(2)]
    assert ends[0] == ends[1]
    writes = []
    for _ in range(2):
        _run("ingest", seed, 1)
        writes.append(_first_loop_write(_trace_file("ingest", seed)))
    for key in ("spark_jobs", "spark_tasks", "files_written", "bytes_written_per_point"):
        assert writes[0][key] == writes[1][key], key
    assert writes[0]["spark_jobs"] > 0


@pytest.mark.parametrize("workload", ["ingest", "dashboard"])
def test_e2e_traced_run_writes_well_formed_spans(workload):
    seed = 3
    out = _run(workload, seed, 1)
    assert out["metrics"]["trace.spans"]["value"] > 0
    trace = _trace_file(workload, seed)
    spans = trace["spans"]
    by_id = {s["id"]: s for s in spans}
    assert len(by_id) == len(spans)
    for s in spans:
        assert set(s) == {"id", "name", "parent", "op", "start", "end", "attrs"}
        assert s["start"] <= s["end"]
        if s["parent"] is None:
            assert s["name"].startswith("op.")
            assert s["op"] is not None
        else:
            parent = by_id[s["parent"]]
            assert parent["start"] <= s["start"] and s["end"] <= parent["end"]
            assert s["op"] == parent["op"]
    names = {s["name"] for s in spans}
    writes = {"ingest": {"op.write", "store.update_many"}, "dashboard": {"op.import"}}
    assert writes[workload] | {"op.fetch", "op.render", "op.compact", "spark.action"} <= names
    assert trace["meta"]["nproc"] >= 1
    assert not glob.glob(os.path.join(ROOT, ".perfbench", "run-*"))
