"""Regenerate golden.json: oracle digests for every input variant.

Runs ``crawl_oracle`` (sequential, pure Python) for each variant at the
benchmark shape, for the 3-epoch crawl of crawl_corpus and crawl_live and
the 2-epoch crawl crawl_resume ends with.  Takes about 5 minutes of CPU;
``--jobs`` spreads it over processes.

Usage: python3 perfbench/make_golden.py [--jobs 3]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import get_context

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import web  # noqa: E402


def one(job: tuple[int, int]) -> tuple[str, dict]:
    variant, epochs = job
    return web.golden_key(variant, epochs), web.oracle_summary(
        web.SHAPE, variant, epochs
    )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--jobs", type=int, default=3)
    a = ap.parse_args()
    with ProcessPoolExecutor(a.jobs, mp_context=get_context("spawn")) as ex:
        out = dict(ex.map(one, [
            (v, e)
            for v in range(web.VARIANTS)
            for e in sorted({web.SHAPE.epochs, web.SHAPE.resume_epochs})
        ]))
    golden = {"shape": web.SHAPE.__dict__, "variants": web.VARIANTS,
              "digests": dict(sorted(out.items()))}
    with open(web.GOLDEN_PATH, "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(out)} digests to {web.GOLDEN_PATH}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
