"""Seeded input generator.

Writes the ten tables the catalog reads (``region nation customer supplier
part orders lineitem events documents embeddings``) as one
``<table>.parquet`` file each, the layout ``sources.load_table`` expects,
with fact tables split into several row groups. The same (seed, spec)
always gives byte-identical files.

Every call writes a fresh directory named after the seed, the spec and a
repetition number: the catalog memoizes footer metadata per path and
never invalidates it, so a path must never be reused for other contents.
"""

from __future__ import annotations

import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

ORDER_EPOCH_DAY = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
EVENT_EPOCH = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 86_400 * 1_000_000
DIM = 64
ROW_GROUP_ROWS = 65_536


@dataclass(frozen=True)
class Spec:
    """Input sizes. ``sf`` scales the star schema and the events table the
    way TPC-H scale factors do (sf 0.1: 600k lineitem rows)."""

    sf: float
    docs: int
    near_dup_share: float
    vectors: int
    clusters: int

    def tag(self) -> str:
        return (
            f"sf{self.sf:g}_d{self.docs}_n{round(self.near_dup_share * 100)}"
            f"_v{self.vectors}_c{self.clusters}"
        ).replace(".", "p")


def _dates(days: np.ndarray) -> pa.Array:
    return pa.array((ORDER_EPOCH_DAY + days).astype("datetime64[us]"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_schema(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))

    region = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": REGIONS,
        }
    )
    nk = np.arange(25, dtype=np.int32)
    nation = pa.table(
        {
            "n_nationkey": nk,
            "n_name": [f"NATION_{k}" for k in nk],
            "n_regionkey": nk % 5,
        }
    )
    ck = np.arange(n_cust, dtype=np.int64)
    customer = pa.table(
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{k:09d}" for k in ck],
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    sk = np.arange(n_supp, dtype=np.int64)
    supplier = pa.table(
        {
            "s_suppkey": sk,
            "s_name": [f"Supplier#{k:09d}" for k in sk],
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    retail = np.round(900.0 + (pk % 1000) * 0.1, 2)
    part = pa.table(
        {
            "p_partkey": pk,
            "p_name": names[rng.integers(0, len(names), n_part)],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
                rng.integers(0, 25, n_part)
            ],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": retail,
        }
    )

    ok = np.arange(n_ord, dtype=np.int64)
    odays = rng.integers(0, ORDER_DAYS, n_ord)
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_ok = np.repeat(ok, lines)
    starts = np.cumsum(lines) - lines
    l_no = (np.arange(n_li) - np.repeat(starts, lines) + 1).astype(np.int32)
    l_pk = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ext = np.round(qty * retail[l_pk] * rng.uniform(1.0, 2.1, n_li), 2)
    disc = rng.integers(0, 11, n_li) / 100.0
    tax = rng.integers(0, 9, n_li) / 100.0
    ship = np.repeat(odays, lines) + rng.integers(1, 122, n_li)
    lineitem = pa.table(
        {
            "l_orderkey": l_ok,
            "l_partkey": l_pk,
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": l_no,
            "l_quantity": qty,
            "l_extendedprice": ext,
            "l_discount": disc,
            "l_tax": tax,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.where(ship > ORDER_DAYS * 0.6, "O", "F"),
            "l_shipdate": _dates(ship),
        }
    )
    charge = ext * (1.0 - disc) * (1.0 + tax)
    orders = pa.table(
        {
            "o_orderkey": ok,
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(np.add.reduceat(charge, starts), 2),
            "o_orderdate": _dates(odays),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )

    n_ev = max(1000, int(1_000_000 * sf))
    ts = EVENT_EPOCH + np.sort(rng.integers(0, EVENT_SPAN_US, n_ev)).astype("timedelta64[us]")
    events = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ts),
            "user_id": rng.integers(0, max(150, int(15_000 * sf)), n_ev),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": _money(rng, n_ev, 0.01, 490.0),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
    }


def documents(rng: np.random.Generator, n: int, near_dup_share: float) -> tuple[pa.Table, int]:
    """Random-vocabulary documents; ``near_dup_share`` of them are copies of
    an earlier original with one or two words replaced. Returns the table
    and the number of near-duplicates planted."""
    vocab = np.array(VOCAB)
    n_dup = int(round(n * near_dup_share))
    texts: list[str] = []
    words_of: list[np.ndarray] = []
    originals = n // 10 + 1  # a near-duplicate copies one of the first documents
    dup_at = set(rng.choice(np.arange(originals, n), size=n_dup, replace=False).tolist())
    for i in range(n):
        if i in dup_at:
            w = words_of[int(rng.integers(0, originals))].copy()
            for j in rng.integers(0, len(w), int(rng.integers(1, 3))):
                w[j] = vocab[int(rng.integers(0, len(vocab)))]
        else:
            w = vocab[rng.integers(0, len(vocab), int(rng.integers(10, 90)))]
        words_of.append(w)
        texts.append(" ".join(w))
    table = pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, 5, n)],
            "source": np.array([f"src{k}" for k in range(20)])[rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    return table, n_dup


def embeddings(rng: np.random.Generator, n: int, clusters: int, dim: int = DIM) -> pa.Table:
    """Unit vectors drawn from a Gaussian mixture with ``clusters``
    components; ``label`` is the component."""
    centers = rng.standard_normal((clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, clusters, n)
    x = centers[label] + rng.standard_normal((n, dim)) * (0.6 / np.sqrt(dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), dim).cast(pa.list_(pa.float32()))
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": emb,
            "label": label.astype(np.int32),
        }
    )


def generate(root: str, seed: int, spec: Spec, rep: int = 0) -> tuple[str, dict]:
    """Write one input set under ``root`` and return ``(sf_dir, manifest)``.
    The manifest records rows, bytes and row-group size per table, plus
    the planted near-duplicate count and the embedding cluster count."""
    rng = np.random.default_rng([seed, rep])
    sf_dir = os.path.join(root, f"in_s{seed}_{spec.tag()}_r{rep}")
    os.makedirs(sf_dir, exist_ok=False)
    tables = star_schema(rng, spec.sf)
    tables["documents"], n_dup = documents(rng, spec.docs, spec.near_dup_share)
    tables["embeddings"] = embeddings(rng, spec.vectors, spec.clusters)
    manifest: dict = {"seed": seed, "rep": rep, "spec": asdict(spec), "tables": {}}
    for name, table in tables.items():
        path = os.path.join(sf_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=ROW_GROUP_ROWS, compression="snappy")
        entry = {
            "rows": table.num_rows,
            "bytes": os.path.getsize(path),
            "row_group_rows": ROW_GROUP_ROWS,
            "row_groups": pq.ParquetFile(path).metadata.num_row_groups,
        }
        if name == "documents":
            entry["near_dup_share"] = spec.near_dup_share
            entry["near_dups"] = n_dup
        if name == "embeddings":
            entry["clusters"] = spec.clusters
        manifest["tables"][name] = entry
    return sf_dir, manifest
