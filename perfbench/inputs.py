"""Seeded input generation for the benchmark workloads.

Everything the engine sees is produced here from ``--seed``: the parts
table the catalog is derived from, the op stream (kinds, query texts,
part numbers, filter values), the upsert batches and the curation
shards with their planted duplicates. The same seed gives byte-identical
inputs; nothing here touches Spark.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

ADJ = (
    "red blue green black white yellow orange silver heavy light large "
    "small medium mini long short wide narrow flat round square hex flex "
    "rigid high low dual single triple quick safety premium standard "
    "compact portable industrial insulated coated threaded welded"
).split()
MATERIAL = (
    "steel brass copper aluminum nylon rubber vinyl leather cotton carbon "
    "stainless bronze zinc titanium ceramic tungsten nickel graphite "
    "kevlar polyester"
).split()
NOUN = (
    "valve regulator hose cylinder torch tip nozzle gauge fitting clamp "
    "glove helmet wire rod tank cable filter lens jacket apron hammer "
    "brush grinder disc wheel blade drill bit electrode flowmeter coupler "
    "adapter flange gasket washer bolt nut screw bracket hinge"
).split()
# few distinct prices, so a payload filter on price keeps ~1 in 12 hits
PRICES = [f"{p:.2f}" for p in (4.99, 9.99, 14.5, 19.99, 24.0, 29.95,
                                39.99, 49.0, 74.5, 99.99, 149.0, 249.99)]
FILTER_FIELD = "onlinePrice_string"

# The read mix is one fixed cycle of 20 kinds (7 hybrid, 3 dense,
# 3 sparse, 4 fusion, 3 search, every other search with a payload
# filter). The seed picks texts, part numbers and data, not the order of
# kinds, so runs of a few dozen ops compare like with like across seeds.
READ_CYCLE = (
    "hybrid", "dense", "fusion", "sparse", "hybrid", "search", "hybrid",
    "fusion", "dense", "hybrid", "sparse", "search", "hybrid", "fusion",
    "dense", "hybrid", "sparse", "search", "hybrid", "fusion",
)
SEMANTIC_KINDS = {"hybrid", "dense", "search", "fusion", "search_pn"}


def product_id(part_number: str) -> int:
    """The engine's product id for a part number: the first 15 hex
    digits of md5("id|" + part number), as the catalog and upsert
    transforms derive it."""
    return int(hashlib.md5(f"id|{part_number}".encode()).hexdigest()[:15], 16)


def catalog_part_number(brand: int, key: int) -> str:
    return f"BRAND{brand}{key:07d}"


@dataclass
class Catalog:
    part_numbers: list[str]
    sf_dir: str


def write_catalog(rng: random.Random, n_products: int, sf_dir: str) -> Catalog:
    """``part.parquet`` with the columns the products derivation reads
    (p_partkey, p_name, p_brand, p_retailprice)."""
    os.makedirs(sf_dir, exist_ok=True)
    brands = [rng.randint(1, 50) for _ in range(n_products)]
    names = []
    for _ in range(n_products):
        words = [rng.choice(ADJ), rng.choice(MATERIAL), rng.choice(NOUN)]
        if rng.random() < 0.5:
            words.insert(0, rng.choice(ADJ))
        names.append(" ".join(words))
    prices = [float(rng.choice(PRICES)) for _ in range(n_products)]
    pq.write_table(
        pa.table({
            "p_partkey": pa.array(range(n_products), pa.int64()),
            "p_name": names,
            "p_brand": [f"Brand#{b}" for b in brands],
            "p_retailprice": prices,
        }),
        os.path.join(sf_dir, "part.parquet"),
    )
    return Catalog(
        [catalog_part_number(b, k) for k, b in enumerate(brands)], sf_dir
    )


@dataclass
class Op:
    kind: str  # hybrid|dense|sparse|search|fusion|write|search_pn
    text: str = ""
    filter_value: str | None = None
    expect_id: int | None = None
    expect_text: str | None = None
    batch: int | None = None

    @property
    def semantic(self) -> bool:
        """True when the op needs a query embedding (LRU lookup)."""
        return self.kind in SEMANTIC_KINDS


def _zipf_weights(n: int, s: float = 1.1) -> list[float]:
    return [1.0 / (r + 1) ** s for r in range(n)]


def _phrase(rng: random.Random) -> str:
    shape = rng.randrange(3)
    if shape == 0:
        return f"{rng.choice(MATERIAL)} {rng.choice(NOUN)}"
    if shape == 1:
        return f"{rng.choice(ADJ)} {rng.choice(NOUN)}"
    return f"{rng.choice(ADJ)} {rng.choice(MATERIAL)} {rng.choice(NOUN)}"


@dataclass
class UpsertBatch:
    rows: list[dict]
    probe_pn: str
    probe_text: str


@dataclass
class CatalogStream:
    """Deterministic, unbounded op stream for one catalog workload.

    ``repeat=True`` draws query texts and part numbers Zipf-style from
    small seeded pools, so a known share of lookups repeats and can be
    served by the engine's query-embedding LRU. ``repeat=False`` never
    repeats a text: every lookup misses. ``write_every`` > 0 makes every
    Nth op a ``load_data`` of the next batch, followed by a read of one
    of its part numbers."""

    seed: int
    catalog: Catalog
    repeat: bool
    write_every: int = 0
    batch_size: int = 50
    _rng: random.Random = field(init=False)
    _seen: set = field(default_factory=set)
    _i: int = 0
    _n_batches: int = 0

    def __post_init__(self):
        self._rng = random.Random(self.seed * 7919 + 17)
        pool_rng = random.Random(self.seed * 104729 + 3)
        self._phrases = []
        while len(self._phrases) < 120:
            p = _phrase(pool_rng)
            if p not in self._phrases:
                self._phrases.append(p)
        self._pns = pool_rng.sample(self.catalog.part_numbers, 60)
        self._unused_pns = list(self.catalog.part_numbers)
        pool_rng.shuffle(self._unused_pns)
        self._pending_probe: UpsertBatch | None = None
        self._reads = 0
        self._searches = 0

    def _text(self) -> str:
        if self.repeat:
            return self._rng.choices(
                self._phrases, _zipf_weights(len(self._phrases))
            )[0]
        while True:
            words = [self._rng.choice(ADJ), self._rng.choice(ADJ),
                     self._rng.choice(MATERIAL), self._rng.choice(NOUN)]
            t = " ".join(words[self._rng.randrange(2):])
            if t not in self._seen:
                self._seen.add(t)
                return t

    def _part_number(self) -> str:
        if self.repeat:
            return self._rng.choices(self._pns, _zipf_weights(len(self._pns)))[0]
        return self._unused_pns.pop()

    def batch(self, b: int) -> UpsertBatch:
        """Batch ``b``: mostly new part numbers, some updates of
        existing catalog parts, all with fresh descriptions. The probe
        alternates between a new and an updated part."""
        rng = random.Random(self.seed * 31337 + b)
        n_upd = self.batch_size // 5
        updated = rng.sample(self.catalog.part_numbers, n_upd)
        new = [f"UPS{b:04d}{j:03d}" for j in range(self.batch_size - n_upd)]
        rows = []
        for pn in new + updated:
            rows.append({
                "partNumber_airgas_text": pn,
                "manufacturerPartNumber_text": f"M{rng.randrange(10**6):06d}",
                "shortDescription_airgas_text":
                    f"{rng.choice(ADJ)} {rng.choice(MATERIAL)} "
                    f"{rng.choice(NOUN)} batch{b}",
                "onlinePrice_string": rng.choice(PRICES),
                "img_270Wx270H_string": f"/images/{pn}.jpg",
            })
        rng.shuffle(rows)
        probe = (new if b % 2 == 0 else updated)[rng.randrange(n_upd)]
        text = next(r["shortDescription_airgas_text"] for r in rows
                    if r["partNumber_airgas_text"] == probe)
        return UpsertBatch(rows, probe, text)

    def next(self) -> Op:
        self._i += 1
        if self._pending_probe is not None:
            b, self._pending_probe = self._pending_probe, None
            return Op("search_pn", b.probe_pn, expect_id=product_id(b.probe_pn),
                      expect_text=b.probe_text)
        # writes fall on ops 4, 4 + N, ...: a warm-up of N >= 5 ops then
        # holds exactly one write cycle
        if self.write_every and self._i % self.write_every == 4:
            b = self._n_batches
            self._n_batches += 1
            self._pending_probe = self.batch(b)
            return Op("write", batch=b)
        kind = READ_CYCLE[self._reads % len(READ_CYCLE)]
        self._reads += 1
        if kind == "fusion":
            pn = self._part_number()
            return Op("fusion", pn, expect_id=product_id(pn))
        op = Op(kind, self._text())
        if kind == "search":
            self._searches += 1
            if self._searches % 2:
                op.filter_value = self._rng.choice(PRICES)
        return op


def write_batch(batch: UpsertBatch, path: str) -> None:
    with open(path, "w") as f:
        json.dump(batch.rows, f)


# -- curation shards ----------------------------------------------------------

def _vocab(rng: random.Random, n: int) -> list[str]:
    syll = ["ka", "ri", "to", "mu", "sen", "lo", "va", "pe", "dri", "zu",
            "no", "qua", "mi", "ter", "bo", "sha", "el", "gri", "fa", "yo"]
    out, seen = [], set()
    while len(out) < n:
        w = "".join(rng.choice(syll) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


STOPWORDS = ["the", "of", "and", "to", "in", "a", "is", "for", "with", "on"]


@dataclass
class Shard:
    path: str
    n_docs: int
    exact_copies: set[int]
    near_copies: set[int]


def write_shard(seed: int, index: int, n_docs: int, path: str) -> Shard:
    """One curation shard of ``n_docs`` documents (doc_id, text).

    About 8% are exact copies and 8% one-token near copies of base
    documents. Every copy gets a larger id than its original, so a
    min-id canonical choice removes exactly the copies."""
    rng = random.Random(seed * 1_000_003 + index)
    vocab = _vocab(random.Random(seed), 3000)
    weights = _zipf_weights(len(vocab), 0.9)
    n_exact = n_docs // 12
    n_near = n_docs // 12
    n_base = n_docs - n_exact - n_near
    texts = []
    for _ in range(n_base):
        n_tok = rng.randint(40, 80)
        toks = rng.choices(vocab, weights, k=n_tok)
        for _ in range(n_tok // 6):
            toks.insert(rng.randrange(len(toks)), rng.choice(STOPWORDS))
        texts.append(" ".join(toks))
    exact, near = set(), set()
    for j in range(n_exact):
        exact.add(n_base + j)
        texts.append(texts[rng.randrange(n_base)])
    for j in range(n_near):
        toks = texts[rng.randrange(n_base)].split(" ")
        pos = rng.randrange(len(toks))
        toks[pos] = rng.choice([w for w in vocab[:50] if w != toks[pos]])
        near.add(n_base + n_exact + j)
        texts.append(" ".join(toks))
    order = list(range(n_docs))
    rng.shuffle(order)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(order, pa.int64()),
            "text": [texts[i] for i in order],
        }),
        path,
    )
    return Shard(path, n_docs, exact, near)
