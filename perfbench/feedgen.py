"""Seeded generator of NVD-1.1 feeds at feed volume.

Writes ``nvdcve-1.1-<year>.json.gz`` year feeds and a series of
``nvdcve-1.1-recent-<i>.json.gz`` incremental feeds. Items are built with
the ``_item``/``_feed`` helpers of ``tests/fixtures/nvd/make_fixtures.py``
so the shape is exactly the one the pipeline's fixtures pin. The same
seed gives byte-identical files.

What the pipeline must get right, and the generator plants:

- within-feed duplicate IDs: a re-published copy of an item in the same
  year feed, later ``lastModifiedDate`` and a ``(REVISED)`` description;
  ``dedup_within`` must keep the original;
- cross-feed overlap: each recent feed re-publishes IDs of the year feeds
  (and of earlier recent feeds) as ``(REVISED)`` copies;
  first-write-wins must drop every one of them;
- unknown keys (feed level and item level) that schema projection drops;
- items with no ``configurations`` key and with ``"configurations": null``.
"""

from __future__ import annotations

import gzip
import hashlib
import importlib.util
import json
import os
import random
import shutil
from dataclasses import asdict, dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURES = os.path.join(ROOT, "tests", "fixtures", "nvd", "make_fixtures.py")

FIRST_YEAR = 2015
YEAR_FEEDS = 1
ITEMS_PER_YEAR = 3000
WITHIN_FEED_DUPS = 25
RECENT_FEEDS = 1
RECENT_NEW = 250
RECENT_OVERLAP = 250
REVISED = "(REVISED)"
PREFIX = "nvdcve-1.1-"
SUFFIX = ".json.gz"

_VECTORS = ("NETWORK", "ADJACENT_NETWORK", "LOCAL", "PHYSICAL")
_SEVERITY = (("LOW", 3.1), ("MEDIUM", 5.3), ("HIGH", 7.8), ("CRITICAL", 9.8))
_CWES = ("CWE-79", "CWE-89", "CWE-120", "CWE-269", "CWE-362", "CWE-400", "CWE-416")
_REFSOURCES = ("MISC", "CONFIRM", "MLIST", "FULLDISC")
_PRODUCTS = (
    "cpe:2.3:o:linux:linux_kernel:{v}:*:*:*:*:*:*:*",
    "cpe:2.3:a:vendor_a:webapp:{v}:*:*:*:*:*:*:*",
    "cpe:2.3:o:vendor_b:embedded_os:{v}:*:*:*:*:*:*:*",
    "cpe:2.3:a:vendor_c:parser:{v}:*:*:*:*:*:*:*",
    "cpe:2.3:a:vendor_d:crypto_lib:{v}:*:*:*:*:*:*:*",
)


def _helpers():
    spec = importlib.util.spec_from_file_location("nvd_make_fixtures", FIXTURES)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._item, mod._feed


@dataclass
class FeedSet:
    """Paths and sizes of one generated feed set."""

    directory: str
    year_names: list[str]
    recent_names: list[str]
    cves: int  # distinct IDs over the year feeds
    feeds: int
    gz_bytes: int
    raw_bytes: int

    def path(self, name: str) -> str:
        return os.path.join(self.directory, f"{PREFIX}{name}{SUFFIX}")


class _Items:
    def __init__(self, rng: random.Random):
        self.rng = rng
        self.item, self.feed = _helpers()

    def make(self, num: int, year: int, revised: bool = False) -> dict:
        rng = self.rng
        # publishedDate is a function of the ID alone, so a revised copy is
        # the same CVE with only a later lastModifiedDate
        slot = (num * 2654435761 + year * 97) % (12 * 28 * 24)
        month, day, hour = slot // (28 * 24) + 1, slot // 24 % 28 + 1, slot % 24
        published = f"{year}-{month:02d}-{day:02d}T{hour:02d}:15Z"
        modified = (
            f"{year + 1}-{month:02d}-{day:02d}T09:30Z" if revised
            else f"{year}-{month:02d}-{day:02d}T23:45Z"
        )
        severity, score = rng.choice(_SEVERITY)
        kind = rng.random()
        kw: dict = {}
        if kind < 0.04:
            kw["no_configurations"] = True
        elif kind < 0.10:
            # the linux match hides one level down, in children[].cpe_match[]
            kw["children"] = [{
                "operator": "OR",
                "cpe_match": [{
                    "vulnerable": True,
                    "cpe23Uri": _PRODUCTS[0].format(v=f"{rng.randint(2, 6)}.{rng.randint(0, 19)}"),
                }],
            }]
        else:
            kw["cpe_uris"] = [
                rng.choice(_PRODUCTS).format(v=f"{rng.randint(0, 9)}.{rng.randint(0, 9)}")
                for _ in range(rng.randint(0, 3))
            ]
        item = self.item(
            num,
            year=year,
            published=published,
            modified=modified,
            severity_v3=severity,
            base_score=score,
            description=f"Generated flaw {num} in {year}." + (f" {REVISED}" if revised else ""),
            cwe=rng.choice(_CWES),
            attack_vector=rng.choice(_VECTORS),
            user_interaction=rng.choice(("NONE", "REQUIRED")),
            refsource=rng.choice(_REFSOURCES),
            n_refs=rng.randint(0, 3),
            **kw,
        )
        if kw.get("no_configurations") and rng.random() < 0.5:
            item["configurations"] = None  # explicit null, not just absent
        return item


def _year_feed(seed: int, k: int) -> list[dict]:
    year = FIRST_YEAR + k
    items = _Items(random.Random(f"{seed}/year/{k}"))
    batch = [items.make(n, year) for n in range(1, ITEMS_PER_YEAR + 1)]
    for n in items.rng.sample(range(1, ITEMS_PER_YEAR + 1), WITHIN_FEED_DUPS):
        batch.insert(items.rng.randrange(len(batch) + 1), items.make(n, year, revised=True))
    feed = items.feed(batch, f"{year + 1}-01-01T00:00Z")
    feed["CVE_data_producer"] = "perfbench"  # unknown feed-level key
    return feed


def _recent_feed(seed: int, i: int) -> dict:
    """Recent feed ``i``: RECENT_NEW new IDs plus RECENT_OVERLAP revised
    copies of IDs published earlier (year feeds or earlier recent feeds)."""
    items = _Items(random.Random(f"{seed}/recent/{i}"))
    rng = items.rng
    year = FIRST_YEAR + YEAR_FEEDS
    published = YEAR_FEEDS * ITEMS_PER_YEAR + i * RECENT_NEW
    overlap = []
    for j in rng.sample(range(published), RECENT_OVERLAP):
        if j < YEAR_FEEDS * ITEMS_PER_YEAR:
            overlap.append((j % ITEMS_PER_YEAR + 1, FIRST_YEAR + j // ITEMS_PER_YEAR))
        else:
            overlap.append((j - YEAR_FEEDS * ITEMS_PER_YEAR + 1, year))
    batch = [items.make(n, y, revised=True) for n, y in overlap]
    batch += [items.make(n, year) for n in range(i * RECENT_NEW + 1, (i + 1) * RECENT_NEW + 1)]
    rng.shuffle(batch)
    return items.feed(batch, f"{year}-01-{i + 1:02d}T00:00Z")


def _write_feed(seed: int, kind: str, index: int, path: str) -> tuple[int, int]:
    feed = _year_feed(seed, index) if kind == "year" else _recent_feed(seed, index)
    raw = json.dumps(feed, separators=(",", ":")).encode("utf-8")
    # mtime=0 keeps the gzip bytes a function of the content alone
    with open(path, "wb") as fh, gzip.GzipFile(fileobj=fh, mode="wb", mtime=0) as gz:
        gz.write(raw)
    return os.path.getsize(path), len(raw)


def generate(seed: int, directory: str) -> FeedSet:
    """Write the feed set for ``seed`` into ``directory`` (created). Each
    feed draws from its own ``Random(seed/kind/index)``."""
    os.makedirs(directory, exist_ok=True)
    year_names = [str(FIRST_YEAR + k) for k in range(YEAR_FEEDS)]
    recent_names = [f"recent-{i}" for i in range(RECENT_FEEDS)]
    jobs = [("year", k, n) for k, n in enumerate(year_names)]
    jobs += [("recent", i, n) for i, n in enumerate(recent_names)]
    sizes = [
        _write_feed(seed, kind, i, os.path.join(directory, f"{PREFIX}{n}{SUFFIX}"))
        for kind, i, n in jobs
    ]
    return FeedSet(
        directory,
        year_names,
        recent_names,
        YEAR_FEEDS * ITEMS_PER_YEAR,
        len(jobs),
        sum(g for g, _ in sizes),
        sum(r for _, r in sizes),
    )


def _fingerprint() -> str:
    """Hash of the generator's source and the item helpers it uses: a cached
    feed set is reused only if both are unchanged."""
    digest = hashlib.sha256()
    for path in (os.path.abspath(__file__), FIXTURES):
        with open(path, "rb") as fh:
            digest.update(fh.read())
    return digest.hexdigest()[:12]


def cached(seed: int, cache_root: str) -> FeedSet:
    """``generate`` once per seed and generator version; later calls reuse
    the files."""
    directory = os.path.join(cache_root, f"seed-{seed}-{_fingerprint()}")
    stamp = os.path.join(directory, "feedset.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            return FeedSet(**json.load(fh))
    # generate beside the cache entry and rename it into place with its
    # stamp, so an interrupted run never leaves a partial entry behind
    tmp = f"{directory}.partial"
    for d in (tmp, directory):
        shutil.rmtree(d, ignore_errors=True)
    fs = generate(seed, tmp)
    fs.directory = directory
    with open(os.path.join(tmp, "feedset.json"), "w") as fh:
        json.dump(asdict(fs), fh)
    os.rename(tmp, directory)
    return fs
