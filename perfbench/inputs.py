"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed, so the same seed gives the
same inputs. The program under test only ever sees what these functions
return or write.

* `write_tables` writes the ten analytics tables (region nation customer
  supplier part orders lineitem events documents embeddings) as parquet,
  with the schemas and value domains of the registry's fixture contract,
  at a stated scale factor.
* `question_stream` gives the lineage questions for the Q&A workload: an
  untimed warm-up question, then blocks of a fixed shape so every seed asks
  the same mix of 0-, 1- and 2-column questions about the same columns.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000
_ORDER_EPOCH_US = 788_918_400_000_000  # 1995-01-01
_ORDER_DAYS = 2404  # through 2001-08-01
_EVENT_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten tables at scale factor `sf` (sf=1 is 150k customers)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev, n_users = int(6_000_000 * sf), int(1_000_000 * sf), int(15_000 * sf)
    n_docs, n_vecs = 500, 500

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    keys = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_ORDER_EPOCH_US + rng.integers(0, _ORDER_DAYS, n_ord) * _DAY_US),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(_ORDER_EPOCH_US + rng.integers(0, _ORDER_DAYS + 95, n_line) * _DAY_US),
    })
    gaps = rng.exponential(30 * _DAY_US / n_ev, n_ev).astype("int64") + 1
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(_EVENT_EPOCH_US + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        # one document in twenty is an earlier one plus a marker token, so
        # the dedup and near-dup queries have real positives
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_DOC_WORDS, int(rng.integers(10, 100)))))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    vecs = rng.standard_normal((n_vecs, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    return t


def write_tables(seed: int, sf: float, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --- lineage questions -------------------------------------------------------

# Block shape: the number of known columns each question names, in asking
# order. Every block has this shape, so the latency mix and each question's
# position after warm-up are the same for every seed; the seed picks which
# column goes where, the wording and the backticks. A 3-column question takes
# the same per-candidate path as a 2-column one, three times over, so it adds
# cost to a block but no code path.
BLOCK_SHAPE = (0, 1, 2)

_TEMPLATES = {
    0: [
        "Which pipelines in this repository run on a schedule?",
        "How is late arriving data handled across the lake?",
        "Summarise what the medallion layers of this repo produce.",
        "Who owns the raw landing zone and how is it partitioned?",
    ],
    1: [
        "What is downstream of {0}?",
        "If {0} changes type, which gold outputs are affected?",
        "Which scripts would break if we dropped {0}?",
        "Trace the lineage impact of {0} through the pipelines.",
    ],
    2: [
        "What depends on {0} and {1}?",
        "If both {0} and {1} are recomputed, which gold tables change?",
        "Show the combined impact of {0} plus {1}.",
    ],
}


def question_stream(seed: int, timed_columns: list[str], warm_up_columns: list[str]):
    """(warm-up, blocks): one 1-column question naming one of
    `warm_up_columns`, to ask untimed, and an endless iterator of question
    blocks of BLOCK_SHAPE. Each block names sum(BLOCK_SHAPE) distinct columns
    drawn from `timed_columns`. Each column is written backticked or bare at
    random.
    """
    rng = random.Random(seed)

    def question(cols: list[str]) -> str:
        words = [f"`{c}`" if rng.random() < 0.5 else c for c in cols]
        return rng.choice(_TEMPLATES[len(cols)]).format(*words)

    def blocks():
        pool = sorted(timed_columns)
        while True:
            cols = rng.sample(pool, sum(BLOCK_SHAPE))
            block = []
            for k in BLOCK_SHAPE:
                block.append(question(cols[:k]))
                cols = cols[k:]
            yield block

    return question(rng.sample(sorted(warm_up_columns), 1)), blocks()
