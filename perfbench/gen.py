"""Seeded input generator for the benchmark workloads.

The same ``--seed`` gives byte-identical inputs.  Sizes are fixed per
workload (only values move with the seed) so that the cost of a pass
does not depend on which seed a run draws.

    python3 perfbench/gen.py --workload wide_text --seed 7 --out .perfbench_work/inputs

Every generator returns a dict describing what it wrote (paths, input
bytes and, for wide_text, the planted-signal AUC floor).
"""

from __future__ import annotations

import argparse
import json
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# wide_text: Shifu-native '|' text; run_stats dominates, at about 0.7 s of
# Spark jobs per column whatever the row count
WIDE_ROWS, WIDE_EVAL_ROWS, WIDE_NUMERIC, WIDE_CATEGORICAL = 6_000, 12_000, 4, 2
# query_mix: TPC-H-shaped tables (about sf0.003) + a document corpus
QM_ORDERS, QM_CUSTOMERS, QM_PARTS, QM_SUPPLIERS, QM_DOCS = 4_500, 150, 200, 10, 500

# The eval-set AUC a correctly trained model must reach, as a share of
# the planted signal's own AUC above chance: broken training lands near
# 0.5; LR on the normalized columns, which loses the missing values,
# reaches about 0.9 of the way to the oracle.
AUC_FLOOR_SHARE = 0.5


def _auc(score: np.ndarray, label: np.ndarray) -> float:
    """Tie-corrected Mann-Whitney AUC."""
    order = np.argsort(score, kind="mergesort")
    s = score[order]
    ranks = np.empty(len(s))
    i = 0
    while i < len(s):
        j = i
        while j + 1 < len(s) and s[j + 1] == s[i]:
            j += 1
        ranks[order[i:j + 1]] = (i + j) / 2.0 + 1.0
        i = j + 1
    pos = label == 1
    n_pos, n_neg = pos.sum(), (~pos).sum()
    return float((ranks[pos].sum() - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg))


def _floor(oracle_auc: float) -> float:
    return 0.5 + AUC_FLOOR_SHARE * (oracle_auc - 0.5)


def _sigmoid(x: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-x))


def dir_bytes(path: str) -> int:
    """Size of a file, or of every file under a directory."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


# ---------------------------------------------------------------------------
# wide_text
# ---------------------------------------------------------------------------

def _wide_model(rng: np.random.Generator):
    w = np.zeros(WIDE_NUMERIC)
    w[:3] = rng.uniform(0.4, 1.0, 3) * rng.choice([-1.0, 1.0], 3)
    scale = rng.uniform(0.5, 500.0, WIDE_NUMERIC)
    offset = rng.uniform(-100.0, 100.0, WIDE_NUMERIC)
    # '?' stays well under the 5% that makes init_columns type a column
    # categorical, so the column types do not depend on the seed
    missing = rng.uniform(0.01, 0.05, WIDE_NUMERIC)
    levels = rng.integers(5, 13, WIDE_CATEGORICAL)
    effects = [rng.normal(0.0, 0.6 if j < 1 else 0.0, k) for j, k in enumerate(levels)]
    popularity = [rng.dirichlet(np.ones(k) * 2.0) for k in levels]
    return w, scale, offset, missing, levels, effects, popularity


def _wide_rows(rng, model, n):
    w, scale, offset, missing, levels, effects, popularity = model
    x = rng.normal(size=(n, WIDE_NUMERIC))
    logit = x @ w - 0.8
    cats = []
    for j in range(WIDE_CATEGORICAL):
        lv = rng.choice(levels[j], size=n, p=popularity[j])
        logit += effects[j][lv]
        cats.append(lv)
    label = (rng.uniform(size=n) < _sigmoid(logit)).astype(int)
    cols = []
    for j in range(WIDE_NUMERIC):
        v = np.char.mod("%.4f", x[:, j] * scale[j] + offset[j]).astype(object)
        r = rng.uniform(size=n)
        v[r < missing[j]] = "?"
        v[r < missing[j] / 3] = ""
        cols.append(v)
    for j, lv in enumerate(cats):
        v = np.char.add("L", lv.astype(str)).astype(object)
        v[rng.uniform(size=n) < 0.02] = ""
        cols.append(v)
    cols.append(label.astype(str).astype(object))
    return cols, logit, label


def wide_text(seed: int, out: str) -> dict:
    """'|'-delimited text with a ``.pig_header`` sidecar: numeric columns
    with '?'/empty missing tokens, categorical columns and a target whose
    log-odds is linear in three numeric columns and one categorical.  The
    planted model is the same for every seed; the seed draws the rows."""
    model = _wide_model(np.random.default_rng(0))
    rng = np.random.default_rng([seed, 1])
    names = [f"num_{j:02d}" for j in range(WIDE_NUMERIC)]
    names += [f"cat_{j}" for j in range(WIDE_CATEGORICAL)] + ["target"]
    os.makedirs(out, exist_ok=True)
    info = {"categorical": [f"cat_{j}" for j in range(WIDE_CATEGORICAL)], "target": "target"}
    for split, n in (("train", WIDE_ROWS), ("eval", WIDE_EVAL_ROWS)):
        cols, logit, label = _wide_rows(rng, model, n)
        lines = ["|".join(row) for row in zip(*cols)]
        with open(f"{out}/{split}.txt", "w") as f:
            f.write("\n".join(lines) + "\n")
        with open(f"{out}/{split}.pig_header", "w") as f:
            f.write("|".join(names) + "\n")
        info[split] = f"{out}/{split}.txt"
        info[f"{split}_header"] = f"{out}/{split}.pig_header"
        if split == "eval":
            info["oracle_auc"] = _auc(logit, label)
    info["auc_floor"] = _floor(info["oracle_auc"])
    info["input_bytes"] = sum(dir_bytes(info[k]) for k in ("train", "train_header", "eval", "eval_header"))
    return info


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------

_WORDS = ("scan column window order sort part agg value line key join merge query group a "
          "vector hash slow stream filter fast the spark batch table small data big customer row").split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_LANGS, _LANG_P = ["de", "en", "es", "fr", "zh"], [0.14, 0.4, 0.16, 0.16, 0.14]
_EPOCH = datetime(1995, 1, 1)


def _dates(rng, n, days):
    return [_EPOCH + timedelta(days=int(d)) for d in rng.integers(0, days, n)]


def _write(table: pa.Table, path: str, rng) -> None:
    """Parquet in a seeded row order, so layout also moves with the seed."""
    pq.write_table(table.take(pa.array(rng.permutation(table.num_rows))), path)


def _documents(rng):
    texts = []
    for i in range(QM_DOCS):
        r = rng.uniform()
        if i > 20 and r < 0.06:  # near-duplicate of an earlier document
            toks = texts[rng.integers(0, i)].split(" ")
            toks[rng.integers(0, len(toks))] = _WORDS[rng.integers(0, len(_WORDS))]
            texts.append(" ".join(toks) + " dup")
        elif i > 20 and r < 0.08:  # exact duplicate
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(rng.choice(_WORDS, rng.integers(8, 101))))
    return pa.table({
        "doc_id": pa.array(np.arange(QM_DOCS), pa.int64()),
        "text": texts,
        "lang": list(rng.choice(_LANGS, QM_DOCS, p=_LANG_P)),
        "source": [f"src{i % 20}" for i in range(QM_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def query_mix(seed: int, out: str) -> dict:
    """TPC-H-shaped star schema (region, nation, customer, supplier, part,
    orders, lineitem) and a document corpus with planted exact and near
    duplicates, in the schema the registry queries read."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out, exist_ok=True)
    n_line = rng.integers(1, 8, QM_ORDERS)
    total = int(n_line.sum())
    okey = np.repeat(np.arange(QM_ORDERS), n_line)
    qty = rng.integers(1, 51, total).astype(float)
    price = np.round(qty * rng.uniform(900.0, 2100.0, total), 2)
    tables = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(QM_CUSTOMERS), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(QM_CUSTOMERS)],
            "c_nationkey": pa.array(rng.integers(0, 25, QM_CUSTOMERS), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, QM_CUSTOMERS), 2),
            "c_mktsegment": list(rng.choice(_SEGMENTS, QM_CUSTOMERS)),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(QM_SUPPLIERS), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(QM_SUPPLIERS)],
            "s_nationkey": pa.array(rng.integers(0, 25, QM_SUPPLIERS), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, QM_SUPPLIERS), 2),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(QM_PARTS), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(["small", "red", "big", "blue"], QM_PARTS),
                                                   rng.choice(["ring", "widget", "bolt", "gear"], QM_PARTS))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, QM_PARTS)],
            "p_type": list(rng.choice(["ECONOMY", "STANDARD", "PROMO", "LARGE"], QM_PARTS)),
            "p_size": pa.array(rng.integers(1, 51, QM_PARTS), pa.int32()),
            "p_retailprice": np.round(900.0 + np.arange(QM_PARTS) * 0.1, 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(QM_ORDERS), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, QM_CUSTOMERS, QM_ORDERS), pa.int64()),
            "o_orderstatus": list(rng.choice(["F", "O", "P"], QM_ORDERS)),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, QM_ORDERS), 2),
            "o_orderdate": pa.array(_dates(rng, QM_ORDERS, 2400), pa.timestamp("us")),
            "o_orderpriority": list(rng.choice(_PRIORITIES, QM_ORDERS)),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, QM_PARTS, total), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, QM_SUPPLIERS, total), pa.int64()),
            "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in n_line]), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": np.round(rng.integers(0, 11, total) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, total) / 100.0, 2),
            "l_returnflag": list(rng.choice(["A", "N", "R"], total)),
            "l_linestatus": list(rng.choice(["F", "O"], total)),
            "l_shipdate": pa.array(_dates(rng, total, 2500), pa.timestamp("us")),
        }),
        "documents": _documents(rng),
    }
    for name, table in tables.items():
        _write(table, f"{out}/{name}.parquet", rng)
    return {"dir": out, "tables": sorted(tables),
            "input_bytes": sum(dir_bytes(f"{out}/{t}.parquet") for t in tables)}


GENERATORS = {"wide_text": wide_text, "query_mix": query_mix}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(GENERATORS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(GENERATORS[a.workload](a.seed, a.out), indent=1))


if __name__ == "__main__":
    main()
