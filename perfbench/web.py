"""Benchmark inputs and the oracle golden check.

The seed argument picks one of ``VARIANTS`` input variants.  A variant fixes
the seed pages of every host and ``CorpusSpec.seed``; the crawler only ever
sees the generated seeds and corpus.  ``golden.json`` holds, per variant and
crawl length, digests of what the sequential oracle
(``mechaml_spark.frontier.oracle.crawl_oracle``) visits, sees and pays out;
``make_golden.py`` regenerates it.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
GOLDEN_PATH = os.path.join(HERE, "golden.json")


@dataclass(frozen=True)
class Shape:
    hosts: int = 32
    pages: int = 80
    links: int = 24
    images: int = 2
    seeds_per_host: int = 6
    budget: int = 64
    epochs: int = 3          # crawl_corpus / crawl_live
    resume_split: int = 1    # crawl_resume: the first call stops here ...
    resume_epochs: int = 2   # ... and the resumed call runs to here


SHAPE = Shape()
# tiny shape of the self-test; its goldens are computed on the spot
TINY = Shape(hosts=4, pages=16, links=6, seeds_per_host=2, budget=4,
             resume_epochs=3)
VARIANTS = 16


def variant_of(seed: int) -> int:
    return seed % VARIANTS


def spec_of(shape: Shape, variant: int):
    from mechaml_spark.corpus import CorpusSpec

    return CorpusSpec(
        n_hosts=shape.hosts, pages_per_host=shape.pages,
        links_per_page=shape.links, images_per_page=shape.images,
        seed=variant,
    )


def seeds_of(shape: Shape, variant: int) -> list[str]:
    """Seed URLs in ``host{i}.test`` names: ``seeds_per_host`` distinct
    pages per host, drawn from a PRNG keyed by the variant."""
    rng = random.Random(1000 + variant)
    return [
        f"http://host{i}.test/p{j}"
        for i in range(shape.hosts)
        for j in sorted(rng.sample(range(shape.pages), shape.seeds_per_host))
    ]


def live_host(i: int) -> str:
    """Loopback address the origin serves ``host{i}.test`` on."""
    return f"127.0.0.{i + 1}"


_CORPUS_HOST = re.compile(r"host(\d+)\.test")
_LIVE_HOST = re.compile(r"127\.0\.0\.(\d+)")


def to_live(url: str) -> str:
    return _CORPUS_HOST.sub(lambda m: live_host(int(m.group(1))), url)


def from_live(url: str) -> str:
    return _LIVE_HOST.sub(lambda m: f"host{int(m.group(1)) - 1}.test", url)


class LiveHosts:
    """Stand-in for ``CorpusSpec`` in a live crawl: ``crawl()`` reads only
    ``spec.hosts`` when the corpus and both fetchers are passed in."""

    def __init__(self, n_hosts: int) -> None:
        self.hosts = [live_host(i) for i in range(n_hosts)]


# ----------------------------------------------------------------- golden

def _digest(lines) -> str:
    h = hashlib.sha256()
    for line in sorted(lines):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def summary(visits, seen, payload_ids) -> dict:
    """Counts + order-free digests of a crawl's visit log rows
    ``(epoch, depth, discovered_epoch, url_norm, final_url, status)``,
    seen URLs and payload image ids."""
    visits = list(visits)
    seen = list(seen)
    payload_ids = list(payload_ids)
    return {
        "visits": len(visits),
        "visits_sha256": _digest("\t".join(map(str, v)) for v in visits),
        "seen": len(seen),
        "seen_sha256": _digest(seen),
        "payload": len(payload_ids),
        "payload_sha256": _digest(payload_ids),
    }


def oracle_summary(shape: Shape, variant: int, epochs: int) -> dict:
    from mechaml_spark.frontier.oracle import crawl_oracle

    res = crawl_oracle(
        spec_of(shape, variant), seeds_of(shape, variant),
        budget_per_host=shape.budget, max_epochs=epochs,
    )
    return summary(res.visit_log, res.seen, res.payload_ids)


def load_golden() -> dict:
    with open(GOLDEN_PATH) as f:
        return json.load(f)


def golden_key(variant: int, epochs: int) -> str:
    return f"v{variant}/e{epochs}"


def mismatches(got: dict, want: dict) -> list[str]:
    return [
        f"{k}: got {got.get(k)!r}, oracle {want[k]!r}"
        for k in sorted(want)
        if got.get(k) != want[k]
    ]
