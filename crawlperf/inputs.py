"""Workload inputs made from the runner's --seed, and the build cache layout.

The corpus and the amount of work are fixed; the seed changes only the
spelling noise on the seed URLs (duplicates, upper-case hosts, `:443`,
fragments) and which hosts get politeness overrides. Every noisy seed
canonicalizes to a URL of the clean list, so every seed crawls the same
URL set with the same work.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

SF = 0.01  # corpus scale: 18.9k URLs in a bulk crawl on 60 hosts
BULK_MAX_WAVES = 2  # listings, then details: every URL of the corpus
SHEET_KEYS = ("url", "duration", "package")

WORKLOADS = ("crawl_bulk", "dealer_export")


def cache_dir(root: str) -> str:
    """Build products shared by every run in one checkout."""
    return os.path.join(root, ".bench_build", "crawlperf")


def corpus_dir(root: str) -> str:
    return os.path.join(cache_dir(root), f"corpus_sf{SF}")


def export_input_dir(root: str) -> str:
    return os.path.join(cache_dir(root), "export_input")


def load_json(path: str):
    with open(path) as f:
        return json.load(f)


def dump_json(obj, path: str) -> None:
    """Atomic write: a run that dies mid-write leaves no half file behind."""
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _noisy(urls: list[str], rng: random.Random) -> list[str]:
    out = []
    for u in urls:
        out.append(u)
        scheme, rest = u.split("://", 1)
        host, path = rest.split("/", 1)
        r = rng.random()
        if r < 0.05:
            out.append(u)
        elif r < 0.10:
            out.append(f"{scheme.upper()}://{host.upper()}/{path}")
        elif r < 0.15:
            out.append(f"{scheme}://{host}:443/{path}")
        elif r < 0.20:
            out.append(f"{u}#s{rng.randrange(10_000)}")
    rng.shuffle(out)
    return out


def bulk_inputs(seed: int, clean: dict) -> dict:
    """Seed URLs and politeness rows of one bulk crawl: every listing page
    (from the build's `inputs.json`) with noise, and budgets lifted; a
    seed-chosen seventh of the hosts gets a longer politeness delay."""
    rng = random.Random(f"crawl_bulk:{seed}")
    hosts = clean["hosts"]
    chosen = sorted(rng.sample(hosts, len(hosts) // 7))
    return {"seeds": _noisy(clean["listing_urls"], rng),
            "politeness": [("*", 1_000_000, 100)] + [(h, 1_000_000, 150) for h in chosen]}


def oracle_key(inputs: dict) -> str:
    """Cache key of a crawl oracle answer: the canonical inputs, so seeds
    whose noise canonicalizes away share one answer."""
    from webscraper_spark.oracle.seq_oracle import canonicalize

    blob = json.dumps([sorted({canonicalize(s) for s in inputs["seeds"]}), sorted(inputs["politeness"]),
                       BULK_MAX_WAVES])
    return f"crawl_bulk-{hashlib.sha1(blob.encode()).hexdigest()[:16]}"
