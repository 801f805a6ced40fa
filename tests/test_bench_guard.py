"""Unit tests for bench.py's headline and tail line (no Spark run), and
for tools/parse_eventlog.py's reading of rolling event logs."""

import importlib.util
import json
import os

import pyarrow as pa

from tools import parse_eventlog

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location(
    "bench_mod", os.path.join(_HERE, "bench.py")
)
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)

NAMES = sorted(f"q{i}" for i in range(20))


def test_full_pinned_headline_is_raw_wall():
    times = {n: 1.0 for n in NAMES}
    times["q0"] = 0.25
    out = bench.headline(times, NAMES, stream_wall=300.0)
    assert out["metric"] == "pinned_wall_sec"
    assert out["value"] == out["pinned_wall_sec"] == 19.25
    assert out["pinned_n"] == 20
    assert out["pinned_missing"] == []


def test_empty_pinned_yields_no_headline():
    out = bench.headline({}, NAMES, stream_wall=300.0)
    assert out["metric"] == "stream_wall_sec_fallback"
    assert out["value"] == 300.0
    assert out["pinned_n"] == 0
    assert out["pinned_missing"] == NAMES


def test_partial_pinned_reports_missing():
    times = {n: 1.0 for n in NAMES[:5]}
    out = bench.headline(times, NAMES, stream_wall=300.0)
    assert out["metric"] == "pinned_wall_sec"
    assert out["value"] == 5.0
    assert out["pinned_missing"] == NAMES[5:]


def test_tail_line_fits_window_and_keeps_headline():
    times = {f"stream_query_{i:03d}": round(0.05 + i * 0.031, 3) for i in range(317)}
    pinned = {n: round(0.5 + i * 0.1, 3) for i, n in enumerate(bench.PINNED)}
    out = {
        "queries": times,
        "serial_confirm": {n: 1.0 for n in list(times)[:10]},
        "pinned": pinned,
        **bench.headline(pinned, bench.PINNED, stream_wall=600.0),
        "load1_start": 0.4,
        "load1_end": 3.1,
        "steal_pct_start": 0.0,
        "steal_pct_end": 1.25,
        "stream_wall_sec": 600.0,
        "n_queries": len(times),
        "sec_per_query": 1.893,
        "threads": bench.THREADS,
        "serial_sum_sec": 1800.0,
        "sf": 0.1,
    }
    line = bench.tail_line(out)
    assert len(line) <= 2000
    tail = json.loads(line)
    assert tail["metric"] == "pinned_wall_sec"
    assert tail["value"] == out["pinned_wall_sec"]
    assert tail["pinned"] == pinned
    assert "serial_confirm" not in tail
    kept = list(tail["queries"])
    heaviest = sorted(times, key=times.get, reverse=True)
    assert kept and kept == heaviest[: len(kept)]
    assert tail["n_omitted"] == len(times) - len(kept) > 0


def _write_part(path: str, events: list) -> None:
    data = "".join(json.dumps(ev) + "\n" for ev in events).encode()
    if path.endswith(".zstd"):
        with pa.output_stream(path, compression="zstd") as fh:
            fh.write(data)
    else:
        with open(path, "wb") as fh:
            fh.write(data)


def test_rolling_log_parts_read_in_numeric_order(tmp_path, monkeypatch, capsys):
    # A job that starts in part 2 and ends in part 10: read as strings,
    # events_10 sorts before events_2 and the job's end is lost.
    log = tmp_path / "eventlog_v2_local-1"
    log.mkdir()
    events = {
        2: [{
            "Event": "SparkListenerJobStart", "Job ID": 0,
            "Submission Time": 1000, "Stage Infos": [{"Stage ID": 0}],
            "Properties": {"spark.job.description": "q"},
        }],
        5: [{
            "Event": "SparkListenerTaskEnd", "Stage ID": 0,
            "Task Metrics": {"Executor Run Time": 700, "JVM GC Time": 3},
        }],
        7: [{
            "Event": "SparkListenerStageCompleted",
            "Stage Info": {
                "Stage ID": 0, "Stage Name": "collect at x.py:1",
                "Number of Tasks": 4, "Completion Time": 3400,
            },
        }],
        10: [{"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3500}],
    }
    for i in range(1, 12):
        name = f"events_{i}_local-1" + (".zstd" if i == 10 else "")
        _write_part(str(log / name), events.get(i, [{"Event": "SparkListenerLogStart"}]))
    monkeypatch.setattr("sys.argv", ["parse_eventlog.py", str(log)])
    parse_eventlog.main()
    lines = capsys.readouterr().out.splitlines()
    assert lines[-1] == "TOTAL job 2.500s gaps 0.000s n_jobs=1"
    assert lines[0].startswith("job 0:   2.500s")
    assert "collect[4t 700ms" in lines[0]
