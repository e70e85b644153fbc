"""Seeded generator for the ten driver tables the headline queries read.

Same names, columns and types as the engine's driver tables
(``sources/driver_tables.TABLES``): a TPC-H-like star schema plus the
``events`` stream, ``documents`` and ``embeddings``. Sizes follow the
scale factor (sf 0.01: 60k lineitems, 10k events over 150 users, 500
documents, 500 embeddings). All randomness comes from one
``numpy.random.default_rng(seed)``.

Values are chosen so both engines compute them exactly: quantities are
whole numbers, prices carry two decimals, timestamps are microsecond
parquet timestamps.

Document text is drawn from a Zipf-like vocabulary of 4,000 words, so
only a few dozen head words appear in more than a fifth of the documents
and fall to the dedup operators' document-frequency cap; the long tail
survives it. A tenth of the documents and a twentieth of the embeddings
are planted near-duplicates of earlier rows (one word replaced, or small
noise added), so the dedup and ANN queries return real matches; run.py refuses tables on which ``planted_matches`` finds none.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

# head words first, then two-syllable words; word r (0-based) is drawn
# with weight 1 / (r + 1)
_SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
_HEAD = (
    "the a data row column table key value query scan filter join group agg "
    "sort hash merge window stream batch vector spark line part order customer"
).split()
VOCAB = _HEAD + [
    w for w in (a + b for a in _SYLLABLES for b in _SYLLABLES) if w not in _HEAD
][: 4000 - len(_HEAD)]
_ZIPF = 1.0 / np.arange(1, len(VOCAB) + 1)
_ZIPF /= _ZIPF.sum()
LANGS = ("en", "fr", "es", "de", "zh")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
DAY_US = 86_400 * 1_000_000
EPOCH_2024_US = 1_704_067_200 * 1_000_000


def _ts(us: np.ndarray) -> pd.Series:
    return pd.Series(pd.to_datetime(us, unit="us")).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    vocab = np.array(VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.1:
            # near-duplicate: an earlier document with one word replaced
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = vocab[rng.choice(len(vocab), p=_ZIPF)]
        else:
            toks = list(vocab[rng.choice(len(vocab), int(rng.integers(10, 101)), p=_ZIPF)])
        texts.append(" ".join(toks))
    text = pd.Series(texts, dtype=object)
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": text,
            "lang": pd.Series(np.array(LANGS, dtype=object)[rng.integers(0, 5, n)]),
            "source": pd.Series([f"src{i % 20}" for i in range(n)], dtype=object),
            "n_chars": text.str.len().astype(np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pd.DataFrame:
    vecs = rng.standard_normal((n, 64))
    for i in range(10, n):
        if rng.random() < 0.05:  # near-duplicate of an earlier vector
            vecs[i] = vecs[int(rng.integers(0, i))] + 0.05 * rng.standard_normal(64)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def _events(rng: np.random.Generator, n: int, n_users: int) -> pd.DataFrame:
    ts = np.sort(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, n))
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": _ts(ts),
            "user_id": rng.integers(0, n_users, n).astype(np.int64),
            "event_type": pd.Series(
                np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n)]
            ),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": pd.Series([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], dtype=object),
        }
    )


def _lineitem(rng: np.random.Generator, n: int, n_orders: int, n_parts: int, n_supp: int):
    day0 = np.datetime64("1995-01-01", "us").astype(np.int64)
    return pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_orders, n).astype(np.int64),
            "l_partkey": rng.integers(0, n_parts, n).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": pd.Series(np.array(list("ANR"), dtype=object)[rng.integers(0, 3, n)]),
            "l_linestatus": pd.Series(np.array(list("FO"), dtype=object)[rng.integers(0, 2, n)]),
            "l_shipdate": _ts(day0 + rng.integers(0, 2500, n) * DAY_US),
        }
    )


def make_tables(scale: float, seed: int) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * scale))
    n_supp = max(5, int(10_000 * scale))
    n_part = max(10, int(200_000 * scale))
    n_orders = max(10, int(1_500_000 * scale))
    day0 = np.datetime64("1995-01-01", "us").astype(np.int64)
    return {
        "region": pd.DataFrame(
            {
                "r_regionkey": np.arange(5, dtype=np.int32),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": _money(rng, -999, 9999, n_cust),
                "c_mktsegment": np.array(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                    dtype=object,
                )[rng.integers(0, 5, n_cust)],
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": _money(rng, -999, 9999, n_supp),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [f"part {i}" for i in range(n_part)],
                "p_brand": [f"Brand#{i % 25}" for i in range(n_part)],
                "p_type": np.array(["SMALL", "LARGE", "ECONOMY", "STANDARD"], dtype=object)[
                    rng.integers(0, 4, n_part)
                ],
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900 + np.arange(n_part) % 1000 / 10.0, 2),
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(n_orders, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
                "o_orderstatus": np.array(list("OFP"), dtype=object)[rng.integers(0, 3, n_orders)],
                "o_totalprice": _money(rng, 1000, 450_000, n_orders),
                "o_orderdate": _ts(day0 + rng.integers(0, 2500, n_orders) * DAY_US),
                "o_orderpriority": np.array(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object
                )[rng.integers(0, 5, n_orders)],
            }
        ),
        "lineitem": _lineitem(rng, max(100, int(6_000_000 * scale)), n_orders, n_part, n_supp),
        "events": _events(rng, max(100, int(1_000_000 * scale)), max(5, int(15_000 * scale))),
        "documents": _documents(rng, max(50, int(50_000 * scale))),
        "embeddings": _embeddings(rng, max(50, int(50_000 * scale))),
    }


def planted_matches(expected: dict[str, pd.DataFrame]) -> dict[str, int]:
    """Near-duplicates each dedup/ANN query finds in its expected result:
    Jaccard pairs, ANN neighbours flagged near_dup, documents that lost a
    repeated chunk."""
    chunks = expected["chunk_rewrite_dedup"]
    return {
        "dedup_jaccard_lsh": len(expected["dedup_jaccard_lsh"]),
        "neardup_ann": int(expected["neardup_ann"]["near_dup"].sum()),
        "chunk_rewrite_dedup": int((chunks["n_kept"] < chunks["n_chunks"]).sum()),
    }


def write_tables(out_dir: str, scale: float, seed: int) -> None:
    for name, df in make_tables(scale, seed).items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
