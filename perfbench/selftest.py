"""Self-test of the benchmark on a tiny corpus (about three minutes).

1. crawl_corpus, crawl_live and crawl_resume at ``web.TINY`` must match the
   sequential oracle, computed on the spot;
2. the golden check must reject a result with one visit row dropped;
3. an origin-side TCP reset on every attempt of one fetch must be counted
   as one failed fetch (status 0).

Usage: python3 perfbench/selftest.py     (exit code 0 = pass)
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import run  # noqa: E402
import web  # noqa: E402

SEED = 5


def main() -> int:
    shape = web.TINY
    variant = web.variant_of(SEED)
    golden = {
        e: web.oracle_summary(shape, variant, e)
        for e in {shape.epochs, shape.resume_epochs}
    }
    os.makedirs(run.OUT, exist_ok=True)
    out_dir = os.path.join(run.OUT, f"selftest-{os.getpid()}")
    os.makedirs(out_dir)
    errors: list[str] = []

    def check(ok: bool, what: str) -> None:
        print(f"selftest: {'ok  ' if ok else 'FAIL'} {what}", flush=True)
        if not ok:
            errors.append(what)

    b = run.Bench("crawl_corpus", SEED, shape, out_dir, trace=False)
    try:
        b.start_session()
        for n, workload in enumerate(run.WORKLOADS):
            b.workload = workload
            job = b.job(b.setup(), n)
            got, bad, failed = b.verify(job, golden[job["epochs"]])
            check(not bad and failed == 0,
                  f"{workload} matches the oracle {bad or ''}")
            if workload == "crawl_corpus":
                res = job["res"]
                dropped = dataclasses.replace(
                    res, visit_log=res.visit_log.limit(got["visits"] - 1)
                )
                _, bad, _ = b.verify({**job, "res": dropped},
                                     golden[job["epochs"]])
                check(any(m.startswith("visits") for m in bad),
                      "golden check rejects a dropped visit row")

        # reset both attempts (first try + reconnect) of one seed fetch
        b.workload = "crawl_live"
        inp = b.setup()
        _, _, addr, path = web.to_live(
            web.seeds_of(shape, variant)[0]
        ).split("/", 3)
        b.origin.cmd("fault", addr, "/" + path, 2)
        job = b.job(inp, len(run.WORKLOADS))
        _, bad, failed = b.verify(job, golden[job["epochs"]])
        resets = b.origin.cmd("stats")["resets"]
        check(failed == 1 and resets == 2,
              f"an origin reset counts as a failed fetch "
              f"(failed={failed}, resets={resets})")
    finally:
        b.close()
        shutil.rmtree(out_dir, ignore_errors=True)
    print("selftest: " + ("PASS" if not errors else f"{len(errors)} failed"))
    return 0 if not errors else 1


if __name__ == "__main__":
    sys.exit(main())
