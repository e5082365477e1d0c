"""Seeded synthetic webs for the crawl workloads.

Every web is generated in the benchmark process from ``(seed, shape)``
alone, so the same seed always yields the same pages. The engine
receives the pages as a ``WEB_PAGES_SCHEMA`` DataFrame
(``CrawlEngine.set_web_df``) and the payload seed as
``CrawlEngine(seed=...)``; the simulator receives the same
``SyntheticWeb`` object. The generator also returns
what a correct crawl must produce (``Expected``), computed from the page
graph without running either crawler.

Captions are seeded word sequences of at least 12 tokens. A few leaf
pairs get *planted* near-duplicate captions (the partner's caption with
its last token replaced: word-3-shingle Jaccard >= 9/11 > 0.8), and both
members of a planted pair have images of side >= 64, so they survive
the default caption curation filter.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from weaver_spark.webgen import SyntheticWeb, image_fmt

_WORDS = (
    "amber anchor apple arch aspen atlas autumn badge bamboo banner basin "
    "beacon birch blossom boulder branch breeze bridge brook cabin canyon "
    "cedar chalk cherry cliff clover coast comet copper coral cotton crane "
    "creek crystal dawn delta desert dune eagle ember falcon fern field "
    "fjord flame forest fossil fox frost garden garnet glacier granite "
    "grove harbor hazel heron hill horizon island ivory jade jasmine "
    "juniper kestrel lagoon lake lantern larch laurel lemon lily linen "
    "lotus maple marble meadow mesa mist moss mountain oak ocean olive "
    "onyx orchard otter palm pebble pepper pine plain plum pond poppy "
    "prairie quartz quill rain raven reed ridge river robin rose saffron "
    "sage sand sapphire shore sierra silver slate snow sparrow spruce "
    "stone storm stream summit swan thistle thunder tide timber topaz "
    "trail tulip valley velvet violet walnut wave willow wind winter wren"
).split()

# robots: these hosts disallow /item/ — their leaves are never fetched
DISALLOW_HOSTS = (1, 2)


@dataclass
class Expected:
    """What a correct crawl of the web produces."""

    fetched: int  # URLs fetched (every enqueue that is not robots-blocked)
    blocked: int  # enqueued URLs refused by robots
    stored_ids: set[str]  # distinct image_ids a crawl stores
    planted: list[tuple[str, str]] = field(default_factory=list)


@dataclass
class Web:
    web: SyntheticWeb
    expected: Expected
    robots_rows: list[tuple] | None = None


def _caption(rng: np.random.Generator) -> list[str]:
    n = int(rng.integers(12, 17))
    return [_WORDS[int(k)] for k in rng.integers(0, len(_WORDS), n)]


def _messy(url: str, r: float) -> str:
    """A raw spelling that canonicalizes back to ``url``."""
    scheme, rest = url.split("://", 1)
    host, path = rest.split("/", 1)
    if r < 0.25:
        return f"{scheme}://{host.upper()}/{path}"
    if r < 0.5:
        return f"{scheme}://{host}:80/{path}"
    if r < 0.75:
        return f"{url}?utm_source=feed&utm_campaign=x"
    return f"{url}#frag"


class _Builder:
    def __init__(self, seed: int, n_hosts: int, mega: bool,
                 dup_frac: float, messy_frac: float, plant_every: int):
        self.rng = np.random.Generator(np.random.PCG64(seed))
        self.web = SyntheticWeb(seeds=[], seed=seed)
        self.n_hosts = n_hosts
        self.mega = mega
        self.offset = int(self.rng.integers(0, n_hosts))
        self.dup_frac = dup_frac
        self.messy_frac = messy_frac
        self.plant_every = plant_every
        self.leaves: list[str] = []
        self.planted: list[tuple[str, str]] = []
        self.canon: dict[str, list[str]] = {}  # root url -> canonical links

    def _leaf_host(self, j: int) -> int:
        if self.mega:
            # every other leaf on the mega-host h0, the rest round-robin
            # from a seeded offset: per-host counts do not depend on the seed
            return 0 if j % 2 == 0 else 1 + (j // 2 + self.offset) % (self.n_hosts - 1)
        return int(self.rng.integers(0, self.n_hosts))

    def new_leaf(self) -> str:
        j = len(self.leaves)
        url = f"http://h{self._leaf_host(j)}.test/item/{j}"
        image_id = f"img_{j:08d}"
        words = _caption(self.rng)
        prev = self.leaves[-1] if self.leaves else None
        # plant (j-1, j) when both images are >= 64 px (side = 32 + 16*(j % 5))
        if prev is not None and j % self.plant_every == 3:
            base = self.web.pages[prev]["caption"].split()
            words = base[:-1] + [w for w in _WORDS if w != base[-1]][:1]
            self.planted.append((self.web.pages[prev]["image_id"], image_id))
        self.web.pages[url] = {
            "kind": "leaf",
            "image_id": image_id,
            "caption": " ".join(words),
        }
        self.leaves.append(url)
        return url

    def root(self, url: str, n_leaves: int) -> None:
        """Add a root page linking ``n_leaves`` leaf slots."""
        out = []
        for _ in range(n_leaves):
            if self.leaves and self.rng.random() < self.dup_frac:
                out.append(self.leaves[int(self.rng.integers(0, len(self.leaves)))])
            else:
                out.append(self.new_leaf())
        self.canon[url] = out
        self.web.pages[url] = {"kind": "root", "links": [
            _messy(u, self.rng.random()) if self.rng.random() < self.messy_frac else u
            for u in out
        ]}


def _expected(b: _Builder, disallow: tuple[int, ...]) -> Expected:
    """Walk the page graph: every link is one enqueue (the reference
    enqueues duplicates and fetches them again); robots-blocked URLs are
    enqueued but never fetched; storage keeps the first of each key."""
    web = b.web
    blocked_hosts = {f"h{k}.test" for k in disallow}
    fetched = blocked = 0
    stored: set[str] = set()
    todo = list(web.seeds)
    while todo:
        url = todo.pop()
        host = url.split("://", 1)[1].split("/", 1)[0]
        page = web.pages.get(url)
        if page is not None and page["kind"] == "leaf" and host in blocked_hosts:
            blocked += 1
            continue
        fetched += 1
        if page is None:
            continue
        if page["kind"] == "root":
            todo.extend(b.canon[url])
        elif page["kind"] == "leaf":
            stored.add(page["image_id"])
    live = [(x, y) for x, y in b.planted if x in stored and y in stored]
    return Expected(fetched, blocked, stored, live)


def flat_web(seed: int, n_roots: int, leaves_per_root: int, n_hosts: int = 16) -> Web:
    """Wide two-level web: roots on uniform hosts, each linking
    ``leaves_per_root`` leaves; ~10% of link slots repeat an earlier
    leaf and ~20% of links are messy spellings of canonical URLs."""
    b = _Builder(seed, n_hosts, mega=False, dup_frac=0.1, messy_frac=0.2,
                 plant_every=50)
    for r in range(n_roots):
        url = f"http://h{int(b.rng.integers(0, n_hosts))}.test/cat/{r}"
        b.root(url, leaves_per_root)
        b.web.seeds.append(url)
    return Web(b.web, _expected(b, ()))


def sched_web(seed: int, n_roots: int, leaves_per_root: int, seed_leaves: int,
              n_hosts: int = 8) -> Web:
    """Seed list of ``seed_leaves`` leaf URLs and ``n_roots`` roots, each
    root linking ``leaves_per_root`` leaves. Every other leaf sits on the
    mega-host h0, so per-round host demand is exact; roots sit off h0, so
    a binding h0 budget defers only seed leaves. Hosts in
    ``DISALLOW_HOSTS`` refuse /item/ through robots rules. No duplicate
    links."""
    b = _Builder(seed, n_hosts, mega=True, dup_frac=0.0, messy_frac=0.1,
                 plant_every=25)
    b.web.seeds = [b.new_leaf() for _ in range(seed_leaves)]
    for r in range(n_roots):
        url = f"http://h{1 + int(b.rng.integers(0, n_hosts - 1))}.test/cat/{r}"
        b.root(url, leaves_per_root)
        b.web.seeds.append(url)
    rows = [
        (f"h{k}.test", ["/item/"] if k in DISALLOW_HOSTS else [], 0)
        for k in range(n_hosts)
    ]
    return Web(b.web, _expected(b, DISALLOW_HOSTS), rows)


def page_rows(web: SyntheticWeb) -> list[tuple]:
    """WEB_PAGES_SCHEMA rows (payload bytes are synthesized at fetch)."""
    return [
        (url, p["kind"], p.get("links"), p.get("image_id"), None,
         image_fmt(p["image_id"]) if p.get("image_id") else None, p.get("caption"))
        for url, p in web.pages.items()
    ]
