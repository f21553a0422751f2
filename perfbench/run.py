"""Crawl benchmark: whole ``frontier.scheduler.crawl()`` jobs, checked
against the sequential oracle.

Each run starts one local Spark session, sets up the inputs
``SETUP_REPS`` times (``setup_s`` = session start + median input set-up),
then times whole crawl jobs, each through its fully materialized result
(visit log, seen set, payload, cookie jar), until ``--seconds`` have passed
(at least one job).  The first job of a run is the measured unit: a crawl
is a batch job and pays its own JIT and worker warm-up, and at this shape
that first job repeats more closely across processes than later ones do.

Workloads (same shape, see web.Shape):
  crawl_corpus  3-epoch crawl of the in-memory synthetic web, redirect
                closure resolved during set-up: no network, so the frontier
                engine (seen set, extraction, scheduler, Spark driver) is
                nearly all of the time.
  crawl_live    the same crawl over real HTTP/1.1 (HttpLoopFetcher pages,
                HttpFetcher robots.txt) against a loopback origin process.
  crawl_resume  a checkpointed crawl (SnapshotStore.commit every epoch)
                stopped after epoch 0; a second ``crawl(resume=True)`` call
                loads the snapshot and runs epoch 1: the snapshot store's
                write and read-back path.  Two epochs, not three, to keep
                its two crawl calls inside the run-time budget.

``--trace 1`` makes a separate traced run: the same job with wrappers
around the layers' public entry points (tracing.py), replays of the lazy
layer calls after the job, the Spark event log, origin counters and
process probes; it prints the per-layer metrics instead.

Usage: python3 perfbench/run.py --workload crawl_live --seed 3
       --seconds 10 --trace 0
The last line of stdout is the JSON result; the line before it holds
diagnostics (per-job walls, counts, host load probes).
"""

from __future__ import annotations

import time

_T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import socket  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import procstat  # noqa: E402
import web  # noqa: E402

WORKLOADS = ("crawl_corpus", "crawl_live", "crawl_resume")
SLOTS = 3               # Spark task slots; the 4th core is the origin's
SHUFFLE_PARTITIONS = 4
SHARDS = 4
BLOOM_BITS = 1 << 20
SETUP_REPS = 3
DRIVER_MEM = "2g"
OUT = os.path.join(ROOT, ".perfbench_out")


@dataclass
class Inputs:
    spec: object
    seeds: list
    corpus: object
    images: object
    fetcher: object
    robots_fetcher: object = None
    closure_s: float = 0.0
    cached: list = field(default_factory=list)


class Origin:
    """The loopback origin process (origin.py) and its control socket."""

    def __init__(self, shape: web.Shape, variant: int, log) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "origin.py"),
             "--hosts", str(shape.hosts), "--pages", str(shape.pages),
             "--links", str(shape.links), "--images", str(shape.images),
             "--corpus-seed", str(variant)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=log,
            text=True,
        )
        line = self.proc.stdout.readline().split()
        if line[:1] != ["READY"]:
            self.close()
            raise RuntimeError("origin did not start (port 80 needs root)")
        self.ctl = socket.create_connection(("127.0.0.1", int(line[1])))
        self.ctl_file = self.ctl.makefile("rw")

    def cmd(self, *words) -> dict:
        self.ctl_file.write(" ".join(map(str, words)) + "\n")
        self.ctl_file.flush()
        return json.loads(self.ctl_file.readline())

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.cmd("quit")
            except (OSError, AttributeError, ValueError):
                pass
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        for f in (getattr(self, "ctl_file", None), getattr(self, "ctl", None)):
            if f is not None:
                f.close()
        self.proc.stdin.close()
        self.proc.stdout.close()


class Bench:
    def __init__(self, workload: str, seed: int, shape: web.Shape,
                 out_dir: str, trace: bool) -> None:
        self.workload = workload
        self.shape = shape
        self.variant = web.variant_of(seed)
        self.dir = out_dir
        self.trace = trace
        self.spark = None
        self.jvm = None
        self.origin: Origin | None = None
        self.log = open(os.path.join(out_dir, "stderr.log"), "w")
        self.event_dir = os.path.join(out_dir, "events")
        self.crawl_calls: list = []  # wall-clock ms spans of crawl() calls

    # ------------------------------------------------------------ session
    def start_session(self) -> float:
        tmp = os.path.join(self.dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ.update(
            PYTHONPATH=os.pathsep.join(
                [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])]
            ),
            TMPDIR=tmp,
            SPARK_LOCAL_DIRS=os.path.join(self.dir, "local"),
            MECHAML_DRIVER_MEM=DRIVER_MEM,
        )
        extra = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        }
        if self.trace:
            os.makedirs(self.event_dir)
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        from pyspark import SparkContext

        from mechaml_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench", master=f"local[{SLOTS}]",
            shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=extra,
        )
        self.jvm = SparkContext._gateway.proc
        return time.perf_counter() - _T_START

    def close(self) -> None:
        if self.origin is not None:
            self.origin.close()
            self.origin = None
        # the JVM's Python workers outlive it by a moment; wait for them too
        spawned = [p for p in procstat.tree(os.getpid(), set())
                   if p != os.getpid()]
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if self.jvm is not None:
            # the JVM exits when its stdin pipe closes
            self.jvm.stdin.close()
            try:
                self.jvm.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.jvm.kill()
                self.jvm.wait()
            self.jvm = None
        procstat.wait_gone(spawned, timeout_s=10)
        self.log.close()

    # -------------------------------------------------------------- inputs
    def setup(self) -> Inputs:
        from mechaml_spark import agent
        from mechaml_spark.corpus import RESPONSE_T, corpus_df, images_df

        spark, shape, v = self.spark, self.shape, self.variant
        spec = web.spec_of(shape, v)
        images = images_df(spark, spec).cache()
        images.count()
        if self.workload == "crawl_live":
            if self.origin is not None:
                self.origin.close()
            self.origin = Origin(shape, v, self.log)
            return Inputs(
                spec=web.LiveHosts(shape.hosts),
                seeds=[web.to_live(s) for s in web.seeds_of(shape, v)],
                # crawl() only reads the corpus when a fetcher is missing
                corpus=spark.createDataFrame([], RESPONSE_T),
                images=images,
                fetcher=agent.HttpLoopFetcher(),
                robots_fetcher=agent.HttpFetcher(),
                cached=[images],
            )
        corpus = corpus_df(spark, spec).cache()
        corpus.count()
        t0 = time.perf_counter()
        closure = agent.resolve_redirect_closure(corpus).localCheckpoint(
            eager=False
        )
        closure.count()
        return Inputs(
            spec=spec, seeds=web.seeds_of(shape, v), corpus=corpus,
            images=images, fetcher=agent.ResolvedCorpusFetcher(closure),
            closure_s=time.perf_counter() - t0, cached=[corpus, images],
        )

    # ---------------------------------------------------------------- crawl
    def crawl(self, inp: Inputs, max_epochs: int, checkpoint_dir=None,
              resume: bool = False):
        from functools import reduce

        from pyspark.sql import functions as F

        from mechaml_spark.frontier.scheduler import crawl

        t0 = time.time()
        res = crawl(
            self.spark, inp.spec, inp.seeds,
            budget_per_host=self.shape.budget, max_epochs=max_epochs,
            n_shards=SHARDS, n_bits=BLOOM_BITS,
            checkpoint_dir=checkpoint_dir, resume=resume,
            corpus=inp.corpus, images=inp.images, fetcher=inp.fetcher,
            robots_fetcher=inp.robots_fetcher,
        )
        self.crawl_calls.append((t0 * 1e3, time.time() * 1e3))
        # the full crawl product, in one job of four count-aggregates
        counts = reduce(
            lambda a, b: a.unionAll(b),
            [df.agg(F.count("*").alias("n"))
             for df in (res.visit_log, res.seen.seen_df, res.payload, res.jar)],
        ).collect()
        return res, [r["n"] for r in counts]

    def job(self, inp: Inputs, n: int, tracer=None) -> dict:
        """One timed crawl job; returns its walls, result and counts."""
        sh = self.shape
        if self.workload != "crawl_resume":
            if tracer:
                tracer.begin("crawl")
            t0 = time.perf_counter()
            res, counts = self.crawl(inp, sh.epochs)
            return {"wall": time.perf_counter() - t0, "res": res,
                    "counts": counts, "epochs": sh.epochs}
        ck = os.path.join(self.dir, f"checkpoint{n}")
        if tracer:
            tracer.begin("crawl")
        t0 = time.perf_counter()
        self.crawl(inp, sh.resume_split, ck)
        t1 = time.perf_counter()
        if tracer:
            tracer.begin("resume")
        res, counts = self.crawl(inp, sh.resume_epochs, ck, resume=True)
        t2 = time.perf_counter()
        return {"wall": t2 - t0, "resume_s": t2 - t1, "res": res,
                "counts": counts, "epochs": sh.resume_epochs,
                "checkpoint": ck}

    def verify(self, job: dict, golden: dict) -> tuple[dict, list, int]:
        res = job["res"]
        visits = [tuple(r) for r in res.visit_log.select(
            "epoch", "depth", "discovered_epoch", "url_norm", "final_url",
            "status").collect()]
        seen = [r[0] for r in res.seen.seen_df.select("url_norm").collect()]
        payload = [r[0] for r in res.payload.select("image_id").collect()]
        failed = sum(1 for v in visits if v[5] == 0)
        if self.workload == "crawl_live":
            visits = [(*v[:3], web.from_live(v[3]), web.from_live(v[4]), v[5])
                      for v in visits]
            seen = [web.from_live(u) for u in seen]
        got = web.summary(visits, seen, payload)
        return got, web.mismatches(got, golden), failed


# ------------------------------------------------------------------ helpers

def _history_path(workload: str) -> str:
    return os.path.join(OUT, f"untraced-{workload}.jsonl")


def _untraced_median(workload: str) -> float | None:
    try:
        with open(_history_path(workload)) as f:
            walls = [json.loads(line)["wall"] for line in f if line.strip()]
    except OSError:
        return None
    return statistics.median(walls) if walls else None


def _dir_stats(path: str) -> tuple[float, int]:
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size / 2**20, files


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def run(args, shape: web.Shape, golden: dict) -> tuple[dict, dict]:
    os.makedirs(OUT, exist_ok=True)
    out_dir = os.path.join(
        OUT, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    os.makedirs(out_dir)
    b = Bench(args.workload, args.seed, shape, out_dir, bool(args.trace))
    diag: dict = {"workload": args.workload, "seed": args.seed,
                  "variant": b.variant}
    try:
        session_s = b.start_session()
        setups, inp = [], None
        for _ in range(SETUP_REPS):
            if inp is not None:
                for df in inp.cached:
                    df.unpersist()
            t0 = time.perf_counter()
            inp = b.setup()
            setups.append(time.perf_counter() - t0)
        diag.update(session_s=session_s, setup_reps=setups)
        exclude = {b.origin.proc.pid} if b.origin else set()
        me = os.getpid()

        tracer = None
        if args.trace:
            import tracing

            tracer = tracing.Tracer()
            tracer.install()
        if b.origin:
            b.origin.cmd("reset_counters")
        host0, cpu0, wall0 = procstat.host_cpu(), procstat.cpu_s(me, exclude), time.time()
        jobs = []
        with procstat.RssSampler(me, exclude) as rss:
            while not jobs or sum(j["wall"] for j in jobs) < args.seconds:
                jobs.append(b.job(inp, len(jobs), tracer))
        wall1, cpu1, host1 = time.time(), procstat.cpu_s(me, exclude), procstat.host_cpu()
        if tracer:
            tracer.uninstall()
        origin = b.origin.cmd("stats") if b.origin else None

        first = jobs[0]
        got, bad, failed = b.verify(first, golden[first["epochs"]])
        visits = sum(j["counts"][0] for j in jobs)
        wall = sum(j["wall"] for j in jobs)
        diag.update(
            job_walls=[j["wall"] for j in jobs],
            counts=dict(zip(("visits", "seen", "payload", "jar"),
                            first["counts"])),
            golden_mismatches=bad,
            loadavg=procstat.loadavg(),
            steal_frac=procstat.steal_frac(host0, host1),
        )
        result = {
            "correct": not bad,
            "attempted": got["visits"],
            "failed": failed,
        }
        if not args.trace:
            result["metrics"] = {
                "urls_per_s": _metric(visits / wall, "1/s"),
                "setup_s": _metric(session_s + statistics.median(setups), "s"),
            }
            diag["peak_rss_mb"] = rss.peak
            if "resume_s" in first:
                diag["resume_s"] = first["resume_s"]
            if not bad:
                with open(_history_path(args.workload), "a") as f:
                    f.write(json.dumps({"seed": args.seed,
                                        "wall": first["wall"]}) + "\n")
            return result, diag

        # ------------------------------------------------------ traced run
        layers, replays = tracing.replay(tracer)
        m: dict = dict(layers)
        commits = tracer.span_times("store.commit")
        loads = tracer.span_times("store.load")
        st_mb, st_files = (
            _dir_stats(first["checkpoint"]) if "checkpoint" in first
            else (0.0, 0)
        )
        m.update({
            "scheduler.epochs": first["res"].epochs,
            "agent.fetches": got["visits"],
            "agent.status_0": failed,
            "agent.fail_ratio": failed / got["visits"],
            "agent.closure_s": inp.closure_s,
            "store.commits": len(commits),
            "store.commit_s": sum(commits),
            "store.commit_s_max": max(commits, default=0.0),
            "store.bytes_mb": st_mb,
            "store.files": st_files,
            "store.load_s": sum(loads),
            "store.resume_s": first.get("resume_s", 0.0),
            "proc.cpu_s": cpu1 - cpu0,
            "proc.peak_rss_mb": rss.peak,
            "host.steal_frac": diag["steal_frac"],
            "host.loadavg": diag["loadavg"],
        })
        o = origin or {}
        m.update({
            "origin.requests": o.get("requests", 0),
            "origin.conns": o.get("conns", 0),
            "origin.requests_per_conn": (
                o["requests"] / o["conns"] if o.get("conns") else 0.0
            ),
            "origin.cpu_s": o.get("cpu_s", 0.0),
            "origin.bytes_mb": o.get("bytes_out", 0) / 2**20,
        })
        base = _untraced_median(args.workload)
        m["trace.overhead_s"] = wall - base
        diag["untraced_median_s"] = base
        tracer.dump(os.path.join(out_dir, "trace.json"), replays)
        b.close()
        m.update(tracing.parse_event_log(b.event_dir, wall0 * 1e3,
                                         wall1 * 1e3, b.crawl_calls))
        result["metrics"] = {k: _metric(v, unit_of(k)) for k, v in sorted(m.items())}
        diag["not_applicable"] = not_applicable(args.workload)
        return result, diag
    finally:
        b.close()
        for name in os.listdir(out_dir):
            if name.startswith(("checkpoint", "tmp", "local", "warehouse")):
                shutil.rmtree(os.path.join(out_dir, name), ignore_errors=True)


UNITS = {"_s": "s", "_s_max": "s", "_mb": "MB", "_ratio": "ratio", "_frac": "ratio",
         "loadavg": "load", "requests_per_conn": "1/conn"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def not_applicable(workload: str) -> list[str]:
    na = []
    if workload != "crawl_resume":
        na += ["store.*"]
    if workload != "crawl_live":
        na += ["origin.*"]
    if workload == "crawl_live":
        na += ["agent.closure_s"]
    return na


def main() -> int:
    ap = argparse.ArgumentParser(description="crawl benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops the origin and the JVM (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "mechaml_spark")):
        print(f"perfbench: no mechaml_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    digests = web.load_golden()["digests"]
    golden = {e: digests[web.golden_key(web.variant_of(args.seed), e)]
              for e in (web.SHAPE.epochs, web.SHAPE.resume_epochs)}
    if args.trace and _untraced_median(args.workload) is None:
        # trace.overhead_s compares against untraced runs of this checkout;
        # with none yet, make one first (it records its wall)
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload",
             args.workload, "--seed", str(args.seed), "--seconds",
             str(args.seconds), "--trace", "0"],
            stdout=subprocess.DEVNULL, check=True,
        )
    result, diag = run(args, web.SHAPE, golden)
    print(json.dumps({"diag": diag}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
