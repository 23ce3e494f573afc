"""Seeded input generators for the perfbench workloads.

Every generator is a pure function of its seed and size: the same seed
writes byte-identical files, a different seed writes different ones.
The program under test only ever sees the files written here.

- ``InventoryModel``: a two-vendor cloud catalog (``aws`` bronze pages
  plus the ``gcp`` catalog vendor) that churns from one crawl to the
  next, and the lake state the program must reach after each crawl.
- ``write_fleet``: a TPC-H-style star schema plus an ``events`` stream.
- ``write_documents``: a multilingual text corpus with planted exact and
  near duplicates, plus a next-day batch.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_CENT4 = Decimal("0.0001")


def _price(rng: random.Random, lo: float, hi: float) -> Decimal:
    """A price with exactly four decimals (the lake rounds to four)."""
    return Decimal(rng.randint(int(lo * 10_000), int(hi * 10_000))) * _CENT4


# --------------------------------------------------------------- inventory

@dataclass
class TableExpect:
    """What one lake table must hold after a crawl."""
    active: int
    inactive: int
    active_price_sum: Decimal | None = None


@dataclass
class InventoryModel:
    """Generator and model of the vendor catalog across crawls.

    Two vendors: ``aws`` (instance types, on-demand price pages fanned
    out to zones, regions, zones, inspector files) and the catalog
    vendor ``gcp`` (machine types). ``advance()`` moves the catalog to
    the next crawl (the first call builds the cold catalog),
    ``write_bronze`` writes that crawl's tree, and ``expect()`` is the
    lake state the program must reach once the crawl has landed.
    Churn per refresh: ``churn`` of each vendor's servers retire and as
    many new ones appear, ``moved`` of the prices change, and
    ``n_invalid`` new malformed instance types arrive (they must
    quarantine, never land). ``inspected`` aws types of the cold catalog
    never retire; they carry the inspector files.
    """
    seed: int
    types: int = 200
    regions: int = 6
    zones: int = 3
    gcp_types: int = 60
    inspected: int = 12
    churn: float = 0.03
    moved: float = 0.10
    n_invalid: int = 3
    step: int = -1
    aws: dict = field(default_factory=dict)      # type -> (vcpus, mib)
    aws_price: dict = field(default_factory=dict)  # (type, region) -> price
    gcp: dict = field(default_factory=dict)      # id -> (cpus, mib)
    seen_servers: set = field(default_factory=set)
    last_price: dict = field(default_factory=dict)  # price PK -> price
    live_rows: dict = field(default_factory=dict)  # lake PK -> value
    changed: int = 0  # modelled lake rows the last crawl changed
    next_id: int = 0
    stable: list = field(default_factory=list)  # inspected, never retired

    def _rng(self) -> random.Random:
        return random.Random(f"inventory:{self.seed}:{self.step}")

    def _new_aws(self, rng: random.Random) -> None:
        name = f"g{self.next_id // 8}.s{self.next_id % 8}x{rng.randint(1, 9)}"
        self.next_id += 1
        vcpus = rng.choice([1, 2, 4, 8, 16, 32, 64])
        self.aws[name] = (vcpus, vcpus * rng.choice([1024, 2048, 4096, 8192]))
        for r in range(self.regions):
            if rng.random() < 0.8:
                self.aws_price[(name, r)] = _price(rng, 0.005, 9.0)

    def _new_gcp(self, rng: random.Random) -> None:
        gid = str(3000 + self.next_id)
        self.next_id += 1
        cpus = rng.choice([1, 2, 4, 8, 16, 32])
        self.gcp[gid] = (cpus, cpus * rng.choice([1024, 4096, 8192]))

    def advance(self) -> None:
        """Move the catalog to the next crawl."""
        self.step += 1
        rng = self._rng()
        if self.step == 0:
            for _ in range(self.types):
                self._new_aws(rng)
            for _ in range(self.gcp_types):
                self._new_gcp(rng)
            self.stable = sorted(self.aws)[:self.inspected]
            return
        n_aws = max(1, round(self.churn * len(self.aws)))
        for name in rng.sample(sorted(set(self.aws) - set(self.stable)),
                               n_aws):
            del self.aws[name]
            for r in range(self.regions):
                self.aws_price.pop((name, r), None)
        n_gcp = max(1, round(self.churn * len(self.gcp)))
        for gid in rng.sample(sorted(self.gcp), n_gcp):
            del self.gcp[gid]
        for _ in range(n_aws):
            self._new_aws(rng)
        for _ in range(n_gcp):
            self._new_gcp(rng)
        keys = sorted(self.aws_price)
        for k in rng.sample(keys, round(self.moved * len(keys))):
            self.aws_price[k] = _price(rng, 0.005, 9.0)

    def write_bronze(self, root: str) -> int:
        """Write this crawl's bronze tree under ``root``; returns bytes."""
        rng = self._rng()
        aws_dir = os.path.join(root, "aws")
        os.makedirs(aws_dir)
        types = []
        for name in sorted(self.aws):
            vcpus, mib = self.aws[name]
            types.append(_aws_type(name, vcpus, mib))
        for j in range(self.n_invalid):  # no VCpuInfo -> vcpus NULL
            bad = _aws_type(f"bad{self.step}.n{j}", 1, 1024)
            del bad["VCpuInfo"]
            types.append(bad)
        rng.shuffle(types)
        _jsonl(os.path.join(aws_dir, "instance_types.json"), types)
        _jsonl(os.path.join(aws_dir, "products.json"), [
            {"instance_type": name, "location": _aws_region_name(r),
             "operating_system": "Linux",
             "terms": json.dumps({"t1": {"priceDimensions": {"d1": {
                 "pricePerUnit": {"USD": str(price)}, "beginRange": "0",
                 "endRange": "Inf", "unit": "Hrs"}}}})}
            for (name, r), price in sorted(self.aws_price.items())])
        _jsonl(os.path.join(aws_dir, "regions.json"), [
            {"region_id": f"rg-{r}", "name": _aws_region_name(r),
             "aliases": [f"Region{r}"], "country_id": "US",
             "city": f"City {r}"} for r in range(self.regions)])
        _jsonl(os.path.join(aws_dir, "zones.json"), [
            {"region_id": f"rg-{r}",
             "zones": [f"rg-{r}-az{z}" for z in range(self.zones)]}
            for r in range(self.regions)])
        gcp_dir = os.path.join(root, "gcp")
        os.makedirs(gcp_dir)
        _jsonl(os.path.join(gcp_dir, "machine_types.json"), [
            {"id": int(gid), "name": f"n{cpus}-standard-{gid}",
             "description": f"{cpus} vCPUs", "guest_cpus": cpus,
             "memory_mb": mib, "is_shared_cpu": cpus < 2,
             "deprecated": {"state": ""}}
            for gid, (cpus, mib) in sorted(self.gcp.items())])
        for name in self.stable:
            _write_inspector(os.path.join(root, "inspector", "aws", name),
                             self.aws[name][0], random.Random(name))
        return tree_bytes(root)

    def expect(self) -> dict[str, TableExpect]:
        """Lake state after this crawl; records this crawl's rows as
        seen for the crawls that follow."""
        servers = ({("aws", n) for n in self.aws}
                   | {("gcp", g) for g in self.gcp})
        self.seen_servers |= servers
        prices = {("aws", f"rg-{r}", f"rg-{r}-az{z}", n): p
                  for (n, r), p in self.aws_price.items()
                  for z in range(self.zones)}
        self.last_price.update(prices)
        rows = {("server", *k): 1 for k in servers}
        rows.update({("server_price", *k): p for k, p in prices.items()})
        self.changed = sum(1 for k in rows.keys() | self.live_rows.keys()
                           if rows.get(k) != self.live_rows.get(k))
        self.live_rows = rows
        return {
            "server": TableExpect(len(servers),
                                  len(self.seen_servers) - len(servers)),
            "server_price": TableExpect(
                len(prices), len(self.last_price) - len(prices),
                sum(prices.values(), Decimal(0))),
            "region": TableExpect(self.regions, 0),
            "zone": TableExpect(self.regions * self.zones, 0),
        }


def _aws_region_name(r: int) -> str:
    return f"Region Number {r}"


def _aws_type(name: str, vcpus: int, mib: int) -> dict:
    return {
        "InstanceType": name,
        "BurstablePerformanceSupported": vcpus <= 2,
        "VCpuInfo": {"DefaultVCpus": vcpus,
                     "DefaultCores": max(1, vcpus // 2)},
        "ProcessorInfo": {"SupportedArchitectures": ["x86_64"],
                          "SustainedClockSpeedInGhz": 3.0,
                          "Manufacturer": "Intel"},
        "MemoryInfo": {"SizeInMiB": mib},
        "Hypervisor": "nitro",
    }


def _write_inspector(d: str, vcpus: int, rng: random.Random) -> None:
    os.makedirs(d)
    with open(os.path.join(d, "lscpu.json"), "w") as fh:
        json.dump({"lscpu": [
            {"field": "CPU(s):", "data": str(vcpus)},
            {"field": "Core(s) per socket:", "data": str(max(1, vcpus // 2))},
            {"field": "Socket(s):", "data": "1"},
            {"field": "Model name:",
             "data": "Intel(R) Xeon(R) Platinum 8375C CPU @ 2.90GHz"},
            {"field": "BogoMIPS:", "data": f"{rng.uniform(4000, 6000):.2f}"},
        ]}, fh, sort_keys=True)
    with open(os.path.join(d, "stressngfull.csv"), "w") as fh:
        score = rng.uniform(80, 120)
        fh.write("cores,score\n" + "".join(
            f"{c},{score * c ** 0.9:.2f}\n"
            for c in (1, 2, 4, 8, 16, 32, 64) if c <= vcpus))
    with open(os.path.join(d, "openssl.json"), "w") as fh:
        fh.write("\n".join(json.dumps(
            {"algo": algo, "block_size": bs,
             "speed": round(rng.uniform(1e5, 3e6), 2)}, sort_keys=True)
            for algo in ("sha256", "md5") for bs in (16, 16384)))


def _jsonl(path: str, rows: list) -> None:
    with open(path, "w") as fh:
        fh.write("\n".join(json.dumps(r, sort_keys=True) for r in rows))
        fh.write("\n")


def tree_bytes(root: str) -> int:
    """Bytes of every file under ``root``."""
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _dirs, files in os.walk(root) for f in files)


# ------------------------------------------------------------------ fleet

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_DAY_US = 86_400_000_000


def _ts(days: np.ndarray, epoch: str = "1995-01-01") -> pa.Array:
    base = np.datetime64(epoch, "us").astype(np.int64)
    return pa.array(base + days.astype(np.int64) * _DAY_US,
                    type=pa.timestamp("us"))


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def write_fleet(out: str, seed: int, sf: float) -> None:
    """A TPC-H-style star schema at scale ``sf`` (sf 0.01 ~ 60k
    lineitems), plus ``events``: the tables the relational and scoring
    registry queries read. Keys are dense from 0; customer keys stay
    below 10**6 (``merge_upsert_lifecycle`` inserts at +10**6)."""
    os.makedirs(out, exist_ok=True)
    g = np.random.default_rng([seed, 1])
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(200, int(1_500_000 * sf))
    n_users = max(20, int(15_000 * sf))
    n_events = max(500, int(1_000_000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": g.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": np.round(g.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": [_SEGMENTS[i] for i in g.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": g.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": np.round(g.uniform(-999, 9999, n_supp), 2)})
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"part {i % 97} {i % 13}" for i in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in g.integers(1, 26, n_part)],
        "p_type": [("ECONOMY", "SMALL", "LARGE", "STANDARD")[t]
                   for t in g.integers(0, 4, n_part)],
        "p_size": g.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + np.arange(n_part) % 1000 * 0.1, 2)})
    o_days = g.integers(0, 2400, n_ord)
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": g.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": [("F", "O", "P")[s] for s in g.integers(0, 3, n_ord)],
        "o_totalprice": np.round(g.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts(o_days),
        "o_orderpriority": [_PRIORITIES[p] for p in g.integers(0, 5, n_ord)]})
    lines = g.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = g.integers(1, 51, n_li).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": l_order,
        "l_partkey": g.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": g.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * g.uniform(900, 2000, n_li), 2),
        "l_discount": g.integers(0, 11, n_li) / 100.0,
        "l_tax": g.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[f] for f in g.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[s] for s in g.integers(0, 2, n_li)],
        "l_shipdate": _ts(np.repeat(o_days, lines)
                          + g.integers(1, 122, n_li))})
    ev_us = np.sort(g.integers(0, 30 * _DAY_US, n_events))
    base = np.datetime64("2024-01-01", "us").astype(np.int64)
    _write(out, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(base + ev_us, type=pa.timestamp("us")),
        "user_id": g.integers(0, n_users, n_events, dtype=np.int64),
        "event_type": [_EVENT_TYPES[e] for e in g.integers(0, 5, n_events)],
        "value": np.round(g.uniform(0.01, 500, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_events)]})


# -------------------------------------------------------------- documents

# A fixed copy of the marker lexicon: the inputs must not change when
# the program's own lexicon does.
_MARKERS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "for", "it"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "des", "du", "que"],
    "es": ["el", "la", "los", "las", "y", "es", "un", "una", "de", "que"],
}
_LANGS = ["en", "en", "en", "de", "fr", "es"]


def _vocab(rng: random.Random, n: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters)
                          for _ in range(rng.randint(3, 9))))
    return sorted(words)


def _documents(rng: random.Random, vocab: list[str], first_id: int,
               n: int) -> list[tuple]:
    """``n`` documents: Zipf content words mixed with the language's
    marker words; ~8% near duplicates (a few words changed) and ~2%
    exact duplicates of earlier documents of the same set."""
    weights = [1.0 / (i + 1) for i in range(len(vocab))]
    rows: list[tuple] = []
    for i in range(n):
        doc_id = first_id + i
        u = rng.random()
        if rows and u < 0.02:
            src = rng.choice(rows)
            rows.append((doc_id, src[1], src[2], f"src{doc_id % 20}"))
            continue
        if rows and u < 0.10:
            src = rng.choice(rows)
            words = src[1].split()
            for _ in range(max(1, len(words) // 20)):
                words[rng.randrange(len(words))] = rng.choice(vocab)
            rows.append((doc_id, " ".join(words), src[2],
                         f"src{doc_id % 20}"))
            continue
        lang = rng.choice(_LANGS)
        n_words = rng.randint(20, 110)
        words = rng.choices(vocab, weights=weights, k=n_words)
        for j in range(0, n_words, 5):
            words[j] = rng.choice(_MARKERS[lang])
        rows.append((doc_id, " ".join(words), lang, f"src{doc_id % 20}"))
    return rows


def _write_docs(path: str, rows: list[tuple]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": [r[1] for r in rows],
        "lang": [r[2] for r in rows],
        "source": [r[3] for r in rows],
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    }), path)


def write_documents(lake: str, batch_dir: str, seed: int, n_docs: int,
                    n_batch: int) -> None:
    """The standing corpus at ``<lake>/documents.parquet`` and the next
    day's batch (ids above every corpus id, arrival-monotone) at
    ``<batch_dir>/documents.parquet``. The batch reuses the corpus
    vocabulary and repeats some corpus texts, so the ingest gate has
    cross-corpus near duplicates to reject."""
    rng = random.Random(f"documents:{seed}")
    vocab = _vocab(rng, 4000)
    corpus = _documents(rng, vocab, 0, n_docs)
    batch = _documents(rng, vocab, 10 ** 9, n_batch)
    for j in range(0, len(batch), 10):  # a tenth re-crawls old pages
        src = rng.choice(corpus)
        batch[j] = (batch[j][0], src[1], src[2], batch[j][3])
    _write_docs(os.path.join(lake, "documents.parquet"), corpus)
    _write_docs(os.path.join(batch_dir, "documents.parquet"), batch)
