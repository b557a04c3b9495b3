"""Traced mode: spans recorded around calls into the program's public
functions, plus Spark's own event log.

Spans stay in memory (name, start, end, parent, op id) and are written
out when the run ends.  Nothing is instrumented inside the program: the
wrappers replace the names that `plans.replay` and `streaming.ingest`
imported, and `LocalCowTable.merge` on the class.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time


class Tracer:
    def __init__(self, spark, data_files):
        """`data_files(table_root)` lists a table's data files as name -> bytes."""
        self.spark = spark
        self.data_files = data_files
        self.spans: list[dict] = []
        self.op: str | None = None
        self.frames: dict[str, object] = {}  # last DataFrame each builder returned
        self._tls = threading.local()

    # ------------------------------------------------------------ spans ---
    def _stack(self) -> list:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    def begin(self, name: str) -> dict:
        st = self._stack()
        sp = {"id": len(self.spans), "name": name, "op": self.op,
              "parent": st[-1]["id"] if st else None, "start": time.monotonic(), "end": None}
        self.spans.append(sp)
        st.append(sp)
        return sp

    def end(self, sp: dict) -> None:
        sp["end"] = time.monotonic()
        self._stack().remove(sp)

    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            sc = tracer.spark.sparkContext
            prev = sc.getLocalProperty("spark.job.description")
            sc.setJobDescription(f"pb|{tracer.op}|{name}")
            before = tracer.data_files(a[0].root) if name == "merge" else None
            sp = tracer.begin(name)
            try:
                out = fn(*a, **kw)
            finally:
                tracer.end(sp)
                sc.setJobDescription(prev)
            if before is not None:
                # files the merge left behind, listed after it returned
                after = tracer.data_files(a[0].root)
                sp["new_files"] = {f: n for f, n in after.items() if f not in before}
            if name != "merge":
                tracer.frames[name] = out[0] if name == "split_valid_observed" else out
            sp["result"] = out if name == "merge" else None
            return out

        return traced

    def _patch(self, owner, attr: str, name: str) -> None:
        setattr(owner, attr, self.wrap(getattr(owner, attr), name))

    def install(self) -> None:
        from dipper_spark.plans import replay as R
        from dipper_spark.plans.target import LocalCowTable
        from dipper_spark.streaming import ingest as I

        for mod in (R, I):
            for attr in ("decode_payload", "split_valid_observed", "absent_payload_columns",
                         "normalize_winner_text", "emit_lineage"):
                self._patch(mod, attr, attr)
        self._patch(R, "read_changelog", "read_changelog")
        # the collapses the two entry points select by default
        self._patch(R, "lww_collapse_window", "collapse")
        self._patch(I, "lww_collapse", "collapse")
        self._patch(LocalCowTable, "merge", "merge")

    def op_scope(self, op: str):
        """Context: spans and Spark jobs started inside belong to `op`."""
        tracer = self

        class _Scope:
            def __enter__(self):
                tracer.op = op
                tracer.spark.sparkContext.setJobDescription(f"pb|{op}|-")
                return self

            def __exit__(self, *exc):
                tracer.spark.sparkContext.setJobDescription(None)
                tracer.op = None

        return _Scope()

    # -------------------------------------------------------- self time ---
    def self_times(self) -> list[dict]:
        """Each span's duration minus the part its child spans cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = []
        for s in self.spans:
            covered, last = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                a, b = max(c["start"], last), min(c["end"], s["end"])
                if b > a:
                    covered += b - a
                    last = b
            out.append({**s, "dur": s["end"] - s["start"], "self": s["end"] - s["start"] - covered})
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        spans = [{k: v for k, v in s.items() if k != "result"} for s in self.self_times()]
        with open(path, "w") as f:
            json.dump({"spans": spans, **extra}, f, indent=1, default=str)


# ------------------------------------------------------------ event log ---

def read_event_log(log_dir: str) -> dict:
    """Jobs (description, stage ids), stages (task metrics) from Spark's
    JSON event log.  Read after the session stopped, so it is complete."""
    jobs, stage_tasks = {}, {}
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = {"desc": props.get("spark.job.description") or "",
                                         "stages": e.get("Stage IDs", [])}
                elif ev == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    im = m.get("Input Metrics") or {}
                    stage_tasks.setdefault(e["Stage ID"], []).append({
                        "run_ms": m.get("Executor Run Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "input": im.get("Bytes Read", 0),
                    })
    return {"jobs": jobs, "stage_tasks": stage_tasks}


def job_totals(log: dict, match) -> dict:
    """Sum task metrics over the jobs whose description satisfies `match`."""
    n, tot = 0, {"run_ms": 0, "gc_ms": 0, "shuffle_write": 0, "spill": 0, "input": 0}
    seen = set()
    for jid, j in log["jobs"].items():
        if not match(j["desc"]):
            continue
        n += 1
        for sid in j["stages"]:
            if sid in seen:
                continue
            seen.add(sid)
            for t in log["stage_tasks"].get(sid, []):
                for k in tot:
                    tot[k] += t[k]
    return {"jobs": n, **tot}


def last_stage_skew(log: dict, match) -> float | None:
    """max / median task run time of the final stage of the last job whose
    description satisfies `match`."""
    cand = [jid for jid, j in log["jobs"].items() if match(j["desc"])]
    if not cand:
        return None
    stages = [s for s in log["jobs"][max(cand)]["stages"] if s in log["stage_tasks"]]
    if not stages:
        return None
    runs = [t["run_ms"] for t in log["stage_tasks"][max(stages)]]
    med = statistics.median(runs)
    return max(runs) / med if med > 0 else float(max(runs) > 0)
