"""Per-layer tracing of a crawl, from outside the program.

``Tracer.install`` wraps public entry points of the crawl's layers.  Every
wrapped call leaves a span (name, start, end, parent = the crawl leg or the
epoch).  Eager calls (``SnapshotStore.commit``/``load``) are timed by their
span.  Lazy calls return a DataFrame plan, so their span only covers plan
building; the tracer keeps the call and ``replay`` re-runs it after the
crawl on cached copies of its DataFrame inputs, timing how long the layer's
output takes to materialize.  ``parse_event_log`` reads Spark's event log
for job/stage/task counts, driver gap, task time, shuffle and GC.
"""

from __future__ import annotations

import functools
import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class Call:
    name: str
    fn: object
    args: tuple
    kwargs: dict
    parent: str


@dataclass
class Tracer:
    spans: list = field(default_factory=list)
    calls: list = field(default_factory=list)
    context: str = "setup"
    epoch: int = -1
    _undo: list = field(default_factory=list)

    def begin(self, leg: str) -> None:
        self.context = leg

    def _wrap(self, owner, attr: str, name: str, lazy: bool,
              new_epoch: bool = False) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if new_epoch:
                self.epoch += 1
                self.context = f"epoch{self.epoch}"
            t0 = time.time()
            out = orig(*args, **kwargs)
            self.spans.append({"name": name, "start": t0, "end": time.time(),
                               "parent": self.context})
            if lazy:
                self.calls.append(Call(name, orig, args, kwargs,
                                       self.context))
            return out

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        from mechaml_spark import agent, cookies, extract
        from mechaml_spark.frontier import robots, scheduler, seen, store

        # mark_blocked is the first layer call of every epoch
        self._wrap(robots, "mark_blocked", "robots.mark_blocked", True,
                   new_epoch=True)
        self._wrap(robots, "fetch_robots_rules_df", "robots.fetch", True)
        self._wrap(scheduler, "politeness_split",
                   "scheduler.politeness_split", True)
        self._wrap(agent.ResolvedCorpusFetcher, "fetch_result",
                   "agent.fetch_result", True)
        self._wrap(agent.HttpLoopFetcher, "fetch_result",
                   "agent.fetch_result", True)
        self._wrap(extract, "parse_pages_crawl", "extract.parse_pages_crawl",
                   True)
        self._wrap(seen.SeenSet, "probe_dedup_update",
                   "seen.probe_dedup_update", True)
        self._wrap(cookies, "fold_cookie_events", "cookies.fold", True)
        self._wrap(store.SnapshotStore, "commit", "store.commit", False)
        self._wrap(store.SnapshotStore, "load", "store.load", False)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def span_times(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def dump(self, path: str, replays: list) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "replays": replays}, f, indent=1)


# ----------------------------------------------------------------- replay

def _materialize(df: DataFrame) -> tuple[float, DataFrame]:
    t0 = time.perf_counter()
    c = df.persist()
    c.count()
    return time.perf_counter() - t0, c


def _cached(x):
    return x.persist() if isinstance(x, DataFrame) else x


def replay(tracer: Tracer) -> tuple[dict, list]:
    """Re-run every captured lazy call on cached inputs.  Returns per-layer
    sums (times in s, counts as ints) and one record per replay."""
    from mechaml_spark import cookies as ck

    m: dict[str, float] = {
        k: 0 for k in (
            "extract.pages", "extract.links", "extract.parse_s",
            "seen.candidates", "seen.bloom_positive", "seen.bloom_fp",
            "seen.new_urls", "seen.probe_s", "seen.exact_join_s",
            "scheduler.selected_rows", "scheduler.politeness_s",
            "agent.redirect_hops", "agent.fetch_s",
            "robots.hosts_fetched", "robots.blocked", "robots.fetch_s",
            "robots.mark_s", "cookies.events", "cookies.jar_rows",
            "cookies.parse_s", "cookies.fold_s",
        )
    }
    records = []
    held: list[DataFrame] = []

    for call in tracer.calls:
        args = tuple(_cached(a) for a in call.args)
        kwargs = {k: _cached(v) for k, v in call.kwargs.items()}
        for x in (*args, *kwargs.values()):
            if isinstance(x, DataFrame):
                x.count()
                held.append(x)
        out = call.fn(*args, **kwargs)
        rec = {"name": call.name, "parent": call.parent}
        if call.name == "robots.mark_blocked":
            t, c = _materialize(out)
            m["robots.mark_s"] += t
            m["robots.blocked"] += c.where("_blocked").count()
        elif call.name == "robots.fetch":
            t, c = _materialize(out)
            m["robots.fetch_s"] += t
            m["robots.hosts_fetched"] += args[1].count()
        elif call.name == "scheduler.politeness_split":
            t1, sel = _materialize(out[0])
            t2, rest = _materialize(out[1])
            t, c = t1 + t2, sel
            held.append(rest)
            m["scheduler.politeness_s"] += t
            m["scheduler.selected_rows"] += sel.count()
        elif call.name == "agent.fetch_result":
            t, c = _materialize(out.finals)
            m["agent.fetch_s"] += t
            m["agent.redirect_hops"] += out.hop_targets.count()
            ev = out.cookie_events.persist()
            ev.count()
            held.append(ev)
            tp, parsed = _materialize(
                ev.select(
                    ck.parse_set_cookie_udf(F.col("src_url"), F.col("hv"))
                    .alias("c")
                ).where(F.col("c").isNotNull() & F.col("c")["name"].isNotNull())
            )
            held.append(parsed)
            m["cookies.parse_s"] += tp
            m["cookies.events"] += parsed.count()
            rec["cookies.parse_s"] = tp
        elif call.name == "extract.parse_pages_crawl":
            t, c = _materialize(out)
            m["extract.parse_s"] += t
            m["extract.pages"] += args[0].count()
            m["extract.links"] += (
                c.select(F.sum(F.size("links"))).first()[0] or 0
            )
        elif call.name == "seen.probe_dedup_update":
            seen_set = args[0]
            t, c = _materialize(out)
            pos = c.where(F.col("bits").isNull() & F.col("_maybe_seen"))
            tj, verified = _materialize(
                pos.join(seen_set.seen_df.select("url_norm"), "url_norm",
                         "left_anti")
            )
            held.append(verified)
            n_fp = verified.count()
            m["seen.probe_s"] += t
            m["seen.exact_join_s"] += tj
            m["seen.candidates"] += args[1].count()
            m["seen.bloom_positive"] += pos.count()
            m["seen.bloom_fp"] += n_fp
            m["seen.new_urls"] += n_fp + c.where(
                F.col("bits").isNull() & ~F.col("_maybe_seen")
            ).count()
            rec["seen.exact_join_s"] = tj
        elif call.name == "cookies.fold":
            t, c = _materialize(out)
            m["cookies.fold_s"] += t
            m["cookies.jar_rows"] = c.count()  # the last fold is the result
        else:
            raise ValueError(f"no replay for {call.name}")
        held.append(c)
        rec["replay_s"] = t
        records.append(rec)
        for df in held:
            df.unpersist()
        held.clear()
    pos = m["seen.bloom_positive"]
    m["seen.bloom_fp_ratio"] = m["seen.bloom_fp"] / pos if pos else 0.0
    return m, records


# -------------------------------------------------------------- event log

def _covered_ms(intervals: list, t0: float, t1: float) -> float:
    covered, end = 0.0, t0
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, t1)
        if b > a:
            covered += b - a
            end = b
    return covered


def parse_event_log(event_dir: str, t0_ms: float, t1_ms: float,
                    plan_windows: list) -> dict:
    """Spark activity submitted inside ``[t0_ms, t1_ms]`` (wall clock).
    ``plan_windows`` are the spans of the ``crawl()`` calls themselves
    (without the final materialization): the time in them that no stage
    covers is driver-side planning and bookkeeping."""
    jobs = stages = tasks = 0
    busy_ms = gc_ms = shuffle_b = 0
    intervals = []
    paths = [os.path.join(d, n) for d, _, ns in os.walk(event_dir) for n in ns]
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                e = ev.get("Event")
                if e == "SparkListenerJobStart":
                    if t0_ms <= ev["Submission Time"] <= t1_ms:
                        jobs += 1
                elif e == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    sub = si.get("Submission Time")
                    if sub is not None and t0_ms <= sub <= t1_ms:
                        stages += 1
                        intervals.append((sub, si["Completion Time"]))
                elif e == "SparkListenerTaskEnd":
                    ti = ev["Task Info"]
                    if t0_ms <= ti["Launch Time"] <= t1_ms:
                        tasks += 1
                        busy_ms += ti["Finish Time"] - ti["Launch Time"]
                        tm = ev.get("Task Metrics") or {}
                        gc_ms += tm.get("JVM GC Time", 0)
                        sw = tm.get("Shuffle Write Metrics") or {}
                        shuffle_b += sw.get("Shuffle Bytes Written", 0)
    plan_ms = sum(b - a - _covered_ms(intervals, a, b) for a, b in plan_windows)
    return {
        "spark.jobs": jobs,
        "spark.stages": stages,
        "spark.tasks": tasks,
        "spark.driver_gap_s":
            (t1_ms - t0_ms - _covered_ms(intervals, t0_ms, t1_ms)) / 1e3,
        "spark.task_busy_s": busy_ms / 1e3,
        "spark.shuffle_write_mb": shuffle_b / 2**20,
        "spark.gc_s": gc_ms / 1e3,
        "scheduler.plan_s": plan_ms / 1e3,
    }
