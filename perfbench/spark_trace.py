"""Per-layer figures from Spark's status store and from wrapper spans.

Spark keeps every job, stage and SQL execution of a context in its
status store whether or not the UI runs; this module reads it over
py4j. Jobs are grouped into phases by the job description the crawl
driver already sets (``crawl r{r}: ...``) and by the descriptions the
benchmark itself sets around set-up, verification and queries.

Wrapper spans time the driver-side calls ``plans.crawl`` makes, by
replacing each name where ``plans.crawl`` looks it up, for the length
of a ``with spans.patched():`` block.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PREPARE = "perfbench prepare"
VERIFY = "perfbench verify"
PRE_ROUNDS = "perfbench crawl"       # run_crawl's jobs before round 0
SWEEP = "perfbench sweep "            # + query name
CHECK = "perfbench check"             # correctness checks, untimed

PHASES = ("prepare", "fastround", "seq", "fetch", "bloom", "expand", "verify")
ROUND_PHASES = ("fastround", "seq", "fetch", "bloom", "expand")

_CRAWL_DESC = re.compile(r"crawl r(\d+)(?:: (.+))?$")
_CRAWL_SUFFIX = {
    None: "seq",  # admission jobs run before the round names its phase
    "fast round": "fastround",
    "global seq": "seq",
    "fetch+extract+pages-write": "fetch",
    "bloom sidecar": "bloom",
    "expand+admit+frontier-write": "expand",
}
_SIZE = re.compile(r"([\d.]+) (B|KiB|MiB|GiB|TiB)")
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


def classify(desc: str | None) -> tuple[str | None, int | None]:
    """(phase, round) of a job description; phase None if not ours."""
    if desc is None:
        return None, None
    if desc == PREPARE:
        return "prepare", None
    if desc == VERIFY:
        return "verify", None
    if desc == PRE_ROUNDS:
        return "pre", None
    if desc.startswith(SWEEP):
        return "sweep", None
    m = _CRAWL_DESC.match(desc)
    if m:
        return _CRAWL_SUFFIX.get(m.group(2)), int(m.group(1))
    return None, None


def union_s(intervals) -> float:
    """Length in seconds of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


@dataclass
class Job:
    job_id: int
    desc: str | None
    start: float          # seconds since the epoch
    end: float
    stage_ids: list[int]
    phase: str | None
    round: int | None


class StatusStore:
    """Read access to one SparkContext's status store."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._gateway = sc._gateway
        self._jvm = sc._jvm

    def _list(self, seq) -> list:
        return list(self._conv.asJava(seq))

    def flush(self) -> None:
        """Wait until the listener has seen every event posted so far."""
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def jobs(self, since: float, until: float) -> list[Job]:
        """Finished jobs submitted within [since, until] (epoch seconds)."""
        out = []
        for j in self._list(self._jsc.statusStore().jobsList(None)):
            sub, done = j.submissionTime(), j.completionTime()
            if not sub.isDefined() or not done.isDefined():
                continue
            start = sub.get().getTime() / 1000.0
            if not since <= start <= until:
                continue
            d = j.description()
            desc = d.get() if d.isDefined() else None
            phase, rnd = classify(desc)
            out.append(Job(j.jobId(), desc, start, done.get().getTime() / 1000.0,
                           [int(s) for s in self._list(j.stageIds())], phase, rnd))
        out.sort(key=lambda j: j.job_id)
        return out

    def stage_totals(self, stage_ids) -> dict:
        """Summed task metrics of the given stages, plus the skew
        (max/median task run time) of the heaviest one."""
        tot = dict(task_cpu_s=0.0, task_run_s=0.0, gc_s=0.0,
                   shuffle_bytes=0.0, spill_bytes=0.0, skew=0.0)
        store = self._jsc.statusStore()
        heaviest, heaviest_run = None, -1
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # py4j error: stage not in the store
                continue
            run = st.executorRunTime()
            tot["task_run_s"] += run / 1000.0
            tot["task_cpu_s"] += st.executorCpuTime() / 1e9
            tot["gc_s"] += st.jvmGcTime() / 1000.0
            tot["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
            tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            if run > heaviest_run:
                heaviest, heaviest_run = st, run
        if heaviest is not None and heaviest_run > 0:
            qs = self._gateway.new_array(self._jvm.double, 2)
            qs[0], qs[1] = 0.5, 1.0
            summ = store.taskSummary(heaviest.stageId(), heaviest.attemptId(), qs)
            if summ.isDefined():
                med, mx = self._list(summ.get().executorRunTime())
                tot["skew"] = mx / med if med > 0 else 1.0
        return tot

    def python_bytes(self, since: float, until: float, phases) -> tuple[float, float]:
        """Bytes sent to / returned from Python workers by the SQL
        executions started in the window whose description is in one of
        ``phases``."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        sent = returned = 0.0
        for e in self._list(sql.executionsList()):
            if not since <= e.submissionTime() / 1000.0 <= until:
                continue
            if classify(e.description())[0] not in phases:
                continue
            values = e.metricValues()
            if values is None:
                continue
            for node in self._list(sql.planGraph(e.executionId()).allNodes()):
                for m in self._list(node.metrics()):
                    if m.name() not in (PY_SENT, PY_RETURNED):
                        continue
                    v = values.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    hit = _SIZE.search(v.get())
                    n = float(hit.group(1)) * _UNITS[hit.group(2)] if hit else 0.0
                    if m.name() == PY_SENT:
                        sent += n
                    else:
                        returned += n
        return sent, returned


def phase_summary(store: StatusStore, jobs: list[Job], phases) -> dict:
    """``{phase: {wall_s, task_cpu_s, ...}}``; a stage shared by several
    jobs counts once, for the first job that lists it."""
    owned: dict[int, str] = {}
    for j in jobs:
        for sid in j.stage_ids:
            owned.setdefault(sid, j.phase)
    out = {}
    for p in phases:
        stats = store.stage_totals([s for s, ph in owned.items() if ph == p])
        stats["wall_s"] = union_s([(j.start, j.end) for j in jobs if j.phase == p])
        out[p] = stats
    return out


@dataclass
class Span:
    name: str
    start: float
    end: float
    arg: object = None


@dataclass
class Spans:
    """Driver-side spans around the calls ``plans.crawl`` makes."""

    items: list[Span] = field(default_factory=list)

    def _wrap(self, name: str, fn, arg_ix: int | None = None):
        def wrapper(*args, **kwargs):
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                arg = args[arg_ix] if arg_ix is not None and len(args) > arg_ix else None
                self.items.append(Span(name, t0, time.time(), arg))
        return wrapper

    @contextmanager
    def patched(self):
        import wormpy_spark.plans.crawl as crawl_mod

        targets = [
            (crawl_mod, "run_fast_round", "fastround.call_s", 0),
            (crawl_mod, "anti_join_seen", "seen.anti_join_plan_s", None),
            (crawl_mod, "expand_frontier", "frontier.expand_plan_s", None),
            (crawl_mod, "assign_global_seq", "frontier.seq_plan_s", None),
            # a method: args[0] is the catalog, args[1] the round id
            (crawl_mod.SnapshotCatalog, "commit", "catalog.commit_s", 1),
        ]
        saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _, _ in targets]
        try:
            for obj, attr, name, arg_ix in targets:
                setattr(obj, attr, self._wrap(name, getattr(obj, attr), arg_ix))
            yield self
        finally:
            for obj, attr, fn in saved:
                setattr(obj, attr, fn)

    def named(self, name: str, since: float, until: float) -> list[Span]:
        return [s for s in self.items if s.name == name and since <= s.start <= until]

    def total(self, name: str, since: float, until: float) -> float:
        return sum(s.end - s.start for s in self.named(name, since, until))


def round_table(jobs: list[Job], spans: Spans, metrics_rows: list[dict],
                since: float, until: float) -> list[dict]:
    """One row per crawl round, plus the stretches before the first and
    after the last round. A round runs from its start (its commit's
    start minus the wall plans.crawl recorded) to its commit's end.
    ``gap_s`` is the part of a row's wall that no job covers, so the
    phase walls plus the gap equal the wall (less ``overlap_s``, the
    time two phases' jobs ran at once)."""
    commits = {s.arg: s for s in spans.named("catalog.commit_s", since, until)}
    bounds = []
    for m in metrics_rows:
        c = commits.get(m["round"])
        if c is not None:
            bounds.append((m, c.start - m["wall_s"], c.end, c.end - c.start))
    rows, cursor = [], since

    def row(label, lo, hi, m=None, commit_s=0.0) -> dict:
        inside = [(j, clip([(j.start, j.end)], lo, hi)) for j in jobs]
        inside = [(j, iv) for j, iv in inside if iv]
        phase_walls = {
            p: union_s([iv[0] for j, iv in inside if j.phase == p])
            for p in ROUND_PHASES
        }
        busy = union_s([iv[0] for _, iv in inside])
        r = {"round": label, "wall_s": hi - lo, "commit_s": commit_s,
             "jobs": len(inside), **{f"{p}_job_s": w for p, w in phase_walls.items()},
             "other_job_s": union_s([iv[0] for j, iv in inside
                                     if j.phase not in ROUND_PHASES]),
             "gap_s": hi - lo - busy}
        r["overlap_s"] = sum(phase_walls.values()) + r["other_job_s"] - busy
        if m is not None:
            r.update({k: m.get(k) for k in ("fetched", "frontier_size", "seq_s",
                                            "fetch_s", "bloom_s", "expand_s")})
        return r

    for m, lo, hi, commit_s in bounds:
        if lo > cursor:
            rows.append(row("pre" if not rows else "between", cursor, lo))
        rows.append(row(m["round"], lo, hi, m, commit_s))
        cursor = hi
    rows.append(row("post", cursor, until))
    return rows
