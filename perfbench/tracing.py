"""Per-layer tracing, used only when the benchmark runs with --trace 1.

Three sources, all read from outside the program:

- ``OracleSpans`` wraps the oracle stage functions (module attributes that
  ``oracle.turn.extract_turn`` looks up at call time) with spans and keeps
  each stage's SELF time: its span minus the spans it caused. Replaying
  the turns through ``extract_turn`` with the wrappers installed gives the
  per-stage split of the UDF's compute, measured where the code runs.
- ``parallel_replay_s`` replays the oracle over the UDF's task slices in
  as many processes at once, which gives the UDF's compute wall under the
  same parallelism as the Spark tasks have.
- ``SparkRest`` reads stage, job and SQL metrics for a job group from the
  Spark UI REST endpoint on localhost. The UI is enabled only in traced
  sessions, and metrics are read after the timed passes, never inside.
"""

from __future__ import annotations

import importlib
import json
import multiprocessing
import statistics
import time
import urllib.request
from contextlib import contextmanager

import checks

# (module, attribute) pairs extract_turn reaches through module lookups,
# named as the layer metrics report them.
ORACLE_STAGES = (
    ("boilerplate", "main_content"),
    ("issuer", "split_lines"),
    ("payee", "process_turn_payee"),
    ("issuer", "process_turn_issuer_v1"),
    ("fuzzy", "match_name_v1"),
    ("grammars", "extract_fields"),
    ("grammars", "extract_micr"),
)


class OracleSpans:
    """Self time per oracle stage plus fuzzy memo lookups and hits."""

    def __init__(self) -> None:
        self.self_s = {f"oracle.{m}.{a}": 0.0 for m, a in ORACLE_STAGES}
        self.fuzzy_calls = 0
        self.fuzzy_hits = 0
        self._child_s = [0.0]  # child time accumulated per open span

    def _wrap(self, name: str, fn):
        def spanned(*args, **kwargs):
            self._child_s.append(0.0)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                children = self._child_s.pop()
                self.self_s[name] += dt - children
                self._child_s[-1] += dt
        return spanned

    def _wrap_fuzzy(self, fn):
        spanned = self._wrap("oracle.fuzzy.match_name_v1", fn)

        def counted(text, drawer_dict, cache=None):
            self.fuzzy_calls += 1
            if text and cache is not None and text.upper() in cache:
                self.fuzzy_hits += 1
            return spanned(text, drawer_dict, cache)
        return counted

    @contextmanager
    def installed(self):
        saved = []
        for mod_name, attr in ORACLE_STAGES:
            mod = importlib.import_module(
                f"cheque_ocr_project_spark.oracle.{mod_name}")
            fn = getattr(mod, attr)
            saved.append((mod, attr, fn))
            if (mod_name, attr) == ("fuzzy", "match_name_v1"):
                setattr(mod, attr, self._wrap_fuzzy(fn))
            else:
                setattr(mod, attr, self._wrap(f"oracle.{mod_name}.{attr}", fn))
        try:
            yield self
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)

    def metrics(self) -> dict[str, float]:
        out = {f"{k}_s": v for k, v in self.self_s.items()}
        out["oracle.fuzzy.match_name_v1.calls"] = self.fuzzy_calls
        out["oracle.fuzzy.memo_hit_ratio"] = (
            self.fuzzy_hits / self.fuzzy_calls if self.fuzzy_calls else 0.0)
        return out


_replay: tuple = ()  # (turns, drawer_dict, threshold) in a replay worker


def _init_replay(*args) -> None:
    global _replay
    _replay = args


def _replay_slice(bounds: tuple[int, int]) -> None:
    turns, drawer_dict, threshold = _replay
    checks.oracle_records(turns.iloc[bounds[0]:bounds[1]], drawer_dict,
                          threshold, 1)


def parallel_replay_s(turns, drawer_dict, threshold: float, n_tasks: int,
                      repeats: int = 3) -> float:
    """Median wall, over ``repeats`` rounds after an untimed one that warms
    the workers' regex caches, of ``oracle.turn.extract_turn`` over every
    turn, split into ``n_tasks`` contiguous slices (one memo each, as the
    UDF's tasks have) replayed in ``n_tasks`` forked processes at once.
    The fork copies the JVM gateway's threads' memory but not the threads;
    the workers touch only the oracle and end with ``os._exit``, and a
    forked pool needs no resource-tracker process that would outlive the
    run."""
    step = -(-len(turns) // n_tasks)
    bounds = [(i, i + step) for i in range(0, len(turns), step)]
    walls = []
    with multiprocessing.get_context("fork").Pool(
            len(bounds), initializer=_init_replay,
            initargs=(turns, drawer_dict, threshold)) as pool:
        for _ in range(repeats + 1):
            t0 = time.perf_counter()
            pool.map(_replay_slice, bounds, chunksize=1)
            walls.append(time.perf_counter() - t0)
    return statistics.median(walls[1:])


class SparkRest:
    """Job-group metrics from the live UI's REST API (localhost only)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as r:
            return json.load(r)

    def _settled_jobs(self, groups: list[str]) -> list[dict]:
        """Jobs of ``groups`` once the listener has reported all of them
        finished (the UI store lags the scheduler slightly)."""
        want = {j for g in groups
                for j in self._sc.statusTracker().getJobIdsForGroup(g)}
        deadline = time.monotonic() + 30
        while True:
            jobs = [j for j in self._get("/jobs") if j["jobId"] in want]
            done = [j for j in jobs if j["status"] != "RUNNING"]
            if len(done) == len(want):
                return done
            if time.monotonic() > deadline:
                raise RuntimeError(
                    f"UI reports {len(done)} of the {len(want)} jobs of "
                    f"{groups} finished after 30 s")
            time.sleep(0.2)

    def group_metrics(self, groups: list[str]) -> dict[str, float]:
        """Summed task/CPU/GC time, shuffle bytes and counts over the
        stages the groups' jobs ran, the worst stage task skew (max over
        median task run time, stages with >= 2 tasks), and the bytes
        Python UDF operators exchanged with their workers."""
        jobs = self._settled_jobs(groups)
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self._get("/stages?status=complete")
                  if s["stageId"] in stage_ids]
        out = {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(s["numTasks"] for s in stages),
            "spark.task_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "spark.cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "spark.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "spark.shuffle_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "spark.spill_bytes": sum(s["memoryBytesSpilled"]
                                     + s["diskBytesSpilled"] for s in stages),
        }
        skew = 1.0
        for s in stages:
            if s["numTasks"] < 2:
                continue
            q = self._get(f"/stages/{s['stageId']}/{s['attemptId']}"
                          "/taskSummary?quantiles=0.5,1.0")["executorRunTime"]
            if q[0] > 0:
                skew = max(skew, q[1] / q[0])
        out["spark.task_skew"] = skew
        job_ids = {j["jobId"] for j in jobs}
        sent = received = 0
        for ex in self._get("/sql?details=true&planDescription=false"
                            "&length=100000"):
            if not job_ids.intersection(ex.get("successJobIds", [])):
                continue
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    if m["name"] == "data sent to Python workers":
                        sent += _bytes(m["value"])
                    elif m["name"] == "data returned from Python workers":
                        received += _bytes(m["value"])
        out["python.bytes_in"] = sent
        out["python.bytes_out"] = received
        return out


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40}


def _bytes(value: str) -> int:
    """Total of a UI size metric such as ``"12.3 MiB"`` or
    ``"total (min, med, max (stageId: taskId))\\n12.3 MiB (...)"``."""
    line = value.strip().splitlines()[-1] if "\n" in value else value
    num, unit = line.split()[:2]
    return int(float(num.replace(",", "")) * _UNITS[unit])
