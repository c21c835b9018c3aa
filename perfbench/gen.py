"""Seeded input generators.

Everything the benchmark feeds the engine comes from here, drawn from
one ``numpy.random.Generator`` per run, so the same seed gives the same
inputs.  The engine only ever sees the generated frames and files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

START_BALANCE = 100.0


@dataclass
class Transfers:
    """Bank transfers in tid order: txn ``i`` moves ``amount[i]`` from
    account ``src[i]`` to account ``dst[i]``."""

    src: np.ndarray
    dst: np.ndarray
    amount: np.ndarray
    n_accounts: int

    def __len__(self) -> int:
        return len(self.src)

    def frame(self, lo: int, hi: int) -> pd.DataFrame:
        """The source rows of tids ``[lo, hi)`` in the engine's input
        schema (``_tid`` is the serial order the engine must respect)."""
        return pd.DataFrame(
            {
                "_tid": np.arange(lo, hi, dtype=np.int64),
                "from_account": account_names(self.src[lo:hi]),
                "to_account": account_names(self.dst[lo:hi]),
                "amount": self.amount[lo:hi],
            }
        )


def account_names(ids: np.ndarray) -> np.ndarray:
    return np.char.add("a", ids.astype(str)).astype(object)


def uniform_transfers(rng: np.random.Generator, n: int, n_accounts: int, max_amount: int) -> Transfers:
    """Uniform sender and receiver, never the same account."""
    src = rng.integers(0, n_accounts, n)
    dst = (src + rng.integers(1, n_accounts, n)) % n_accounts
    amount = rng.integers(1, max_amount + 1, n).astype(np.float64)
    return Transfers(src, dst, amount, n_accounts)


def zipf_transfers(
    rng: np.random.Generator, n: int, n_accounts: int, max_amount: int, exponent: float, block: int
) -> Transfers:
    """Zipf-skewed senders and uniform receivers: the hot accounts are
    drained early, so most transfers from them abort and the aborts
    chain along the hot keys.

    Every ``block`` consecutive txns hold each sender exactly as often as
    the Zipf law says (in shuffled order), so the abort chains of one
    epoch are as long under every seed and the work per epoch does not
    swing with the draw."""
    p = 1.0 / np.arange(1, n_accounts + 1) ** exponent
    counts = np.floor(p / p.sum() * block).astype(np.int64)
    counts[: block - counts.sum()] += 1
    senders = np.repeat(np.arange(n_accounts), counts)
    src = np.concatenate([rng.permutation(senders) for _ in range(-(-n // block))])[:n]
    dst = rng.integers(0, n_accounts, n)
    dst = np.where(dst == src, (dst + 1) % n_accounts, dst)
    amount = rng.integers(1, max_amount + 1, n).astype(np.float64)
    return Transfers(src, dst, amount, n_accounts)


def serial_fold(t: Transfers, hi: int, checkpoints: list[int] | None = None):
    """Reference result: apply tids ``[0, hi)`` one at a time in tid
    order; a transfer commits iff the sender stays >= 0.

    Returns ``(balances, commits, snapshots)``, where ``snapshots[c]`` is
    a copy of the balances after the first ``c`` tids for each ``c`` in
    ``checkpoints``."""
    bal = np.full(t.n_accounts, START_BALANCE)
    want = sorted(set(checkpoints or ()))
    snaps: dict[int, np.ndarray] = {}
    commits = 0
    src, dst, amt = t.src.tolist(), t.dst.tolist(), t.amount.tolist()
    b = bal.tolist()
    w = 0
    for i in range(hi):
        while w < len(want) and want[w] == i:
            snaps[i] = np.array(b)
            w += 1
        s, a = src[i], amt[i]
        if b[s] - a >= 0:
            b[s] -= a
            b[dst[i]] += a
            commits += 1
    while w < len(want) and want[w] == hi:
        snaps[hi] = np.array(b)
        w += 1
    return np.array(b), commits, snaps


# -- analytics tables ---------------------------------------------------------

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group big "
    "sort query fast the"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
LANGS = ["en", "zh", "es", "de", "fr"]


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(base: str, offsets: np.ndarray) -> np.ndarray:
    return (np.datetime64(base, "us") + offsets.astype("timedelta64[D]")).astype("datetime64[us]")


def _i32(a) -> pa.Array:
    return pa.array(np.asarray(a, dtype=np.int32))


# The registry's entries turn an embedding component x into fixed point
# as round(x * 1000) and round(x * 254), and an entry and its DuckDB
# oracle can multiply at different precisions (float32 and double), so
# a component within float32 error of a rounding tie rounds apart in the
# two engines (about one seed in twenty draws one).  Such components are
# moved off the tie, so every seed gives inputs the corpus gets right.
FIXED_POINT_SCALES = (1000, 254)
TIE_MARGIN = 1e-3  # in scaled units; float32 error is below 1e-4 here


def off_ties(v: np.ndarray) -> np.ndarray:
    """``v`` (float32) with every component at least TIE_MARGIN away
    from a rounding tie at each of FIXED_POINT_SCALES."""
    v = v.copy()
    while True:
        near = np.zeros(v.shape, dtype=bool)
        for scale in FIXED_POINT_SCALES:
            frac = (v.astype(np.float64) * scale) % 1.0
            near |= np.abs(frac - 0.5) < TIE_MARGIN
        if not near.any():
            return v
        v[near] += np.float32(1e-5)


def analytics_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """A TPC-H-like star schema plus events, documents and embeddings,
    in the column layout the query corpus reads.  ``sf=0.01`` gives
    60k lineitems and 10k events; documents and embeddings are 160 rows
    at every scale, because the near-duplicate entries and their
    oracles grow quadratically with them."""
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_ev, n_users = int(1_500_000 * sf), int(1_000_000 * sf), max(10, int(15_000 * sf))
    n_docs, n_vecs = 160, 160

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": _i32(range(5)), "r_name": REGIONS})
    t["nation"] = pa.table(
        {
            "n_nationkey": _i32(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": _i32(np.arange(25) % 5),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": _i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": _i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": np.char.add(
                np.char.add(rng.choice(PART_ADJ, n_part), " "), rng.choice(PART_NOUN, n_part)
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": _i32(rng.integers(1, 51, n_part)),
            "p_retailprice": 900.0 + (pk % 1000) / 10.0,
        }
    )
    odate = _days("1995-01-01", rng.integers(0, 2400, n_ord))
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": odate,
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    lines = rng.integers(1, 8, n_ord)
    lorder = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(lorder)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": lorder,
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": _i32(lnum),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": odate[lorder] + rng.integers(1, 122, n_li).astype("timedelta64[D]"),
        }
    )
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": _money(rng, 0.01, 500.0, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.06:
            # near-duplicate of an earlier document: one token changed
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(VOCAB))
            toks.append("dup")
        else:
            toks = list(rng.choice(VOCAB, int(rng.integers(10, 100))))
        texts.append(" ".join(toks))
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
            "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centers[labels] + 0.6 * rng.normal(size=(n_vecs, 64))
    vecs = off_ties((vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32))
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": _i32(labels),
        }
    )
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
