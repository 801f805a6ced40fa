"""Parse a Spark event log into a per-job breakdown.

Usage: python tools/parse_eventlog.py /tmp/spark-events/eventlog_v2_<app> [desc-filter]

The path is a single-file log or a rolling (v2) log directory of
``events_<n>_<app>[.zstd]`` parts. ``tools/profile_query.py`` prints its
per-query breakdown through :func:`parse` and :func:`print_jobs` too.
"""

from __future__ import annotations

import io
import json
import os
import sys


def log_parts(path: str) -> list[str]:
    """A single-file log, or a rolling log directory's parts in numeric
    order (``events_10_*`` after ``events_2_*``), so every job's start
    is read before its end."""
    if not os.path.isdir(path):
        return [path]
    parts = [f for f in os.listdir(path) if f.startswith("events_")]
    parts.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(path, f) for f in parts]


def _open(p: str):
    if p.endswith(".zstd"):
        import pyarrow as pa

        return io.TextIOWrapper(
            io.BufferedReader(pa.input_stream(p, compression="zstd"))
        )
    return open(p)


def parse(path: str) -> tuple[dict[int, dict], dict[int, dict]]:
    """Fold the log into ``(jobs, stages)``: per job its submit/end
    times, description and stage ids; per stage its name, task count
    and summed task run/GC time and shuffle bytes."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for p in log_parts(path):
        with _open(p) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                e = ev.get("Event")
                if e == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "start": ev["Submission Time"],
                        "desc": props.get("spark.job.description", ""),
                        "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                    }
                elif e == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif e == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    st = stages.setdefault(si["Stage ID"], {})
                    st.update(
                        name=si["Stage Name"],
                        tasks=si["Number of Tasks"],
                        complete=si.get("Completion Time"),
                    )
                elif e == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stages.setdefault(ev["Stage ID"], {})
                    st["run_ms"] = st.get("run_ms", 0) + m.get("Executor Run Time", 0)
                    st["gc_ms"] = st.get("gc_ms", 0) + m.get("JVM GC Time", 0)
                    srm = m.get("Shuffle Read Metrics") or {}
                    st["sh_read"] = (
                        st.get("sh_read", 0)
                        + srm.get("Remote Bytes Read", 0)
                        + srm.get("Local Bytes Read", 0)
                    )
    return jobs, stages


def print_jobs(jobs: dict, stages: dict, keep) -> tuple[float, float, int]:
    """Print one line per finished job whose description passes
    ``keep``, in submit order, with the gap since the previous job and
    its completed stages. Returns (job seconds, gap seconds, jobs)."""
    sel = sorted(
        ((jid, j) for jid, j in jobs.items() if "end" in j and keep(j["desc"])),
        key=lambda x: x[1]["start"],
    )
    prev_end = None
    job_sum = gap_sum = 0.0
    for jid, j in sel:
        dur = (j["end"] - j["start"]) / 1000.0
        gap = (j["start"] - prev_end) / 1000.0 if prev_end else 0.0
        prev_end = j["end"]
        job_sum += dur
        gap_sum += max(gap, 0)
        sids = [s for s in j["stages"] if s in stages and stages[s].get("complete")]
        stg = []
        for s in sorted(sids):
            st = stages[s]
            nm = (st.get("name") or "?").split(" at ")[0]
            stg.append(
                f"{nm}[{st.get('tasks', '?')}t {st.get('run_ms', 0)}ms "
                f"{st.get('gc_ms', 0)}gc {st.get('sh_read', 0) // 1024}KBr]"
            )
        print(
            f"job {jid}: {dur:7.3f}s gap={gap:6.3f}s "
            f"nstage={len(sids)} {' | '.join(stg[:8])}"
        )
    return job_sum, gap_sum, len(sel)


def main() -> None:
    filt = sys.argv[2] if len(sys.argv) > 2 else None
    jobs, stages = parse(sys.argv[1])
    job_sum, gap_sum, n = print_jobs(
        jobs, stages, keep=lambda desc: filt is None or filt in desc
    )
    print(f"TOTAL job {job_sum:.3f}s gaps {gap_sum:.3f}s n_jobs={n}")


if __name__ == "__main__":
    main()
