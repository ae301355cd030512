"""Seeded input generators for the benchmark's three workloads.

Every generator is a pure function of (seed, size): the same seed writes
byte-identical parquet files, so a run can reuse the inputs an earlier
run of the same seed left behind. Each output directory is written under
a temporary name and renamed when complete, so a half-written input is
never mistaken for a finished one.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# CDC-diabetes-shaped table and scoring requests (ml_pipeline)
BINARY = ["HighBP", "HighChol", "CholCheck", "Smoker", "Stroke", "HeartDiseaseorAttack",
          "PhysActivity", "Fruits", "Veggies", "HvyAlcoholConsump", "AnyHealthcare",
          "NoDocbcCost", "DiffWalk", "Sex"]
MISSING_TOKENS = ["", "<NA>", "null", "?", "N/A", "NAN", "nan"]
EPOCH_2024_US = 1_704_067_200_000_000
DAY_US = 86_400_000_000


_TENTHS = np.array([f"{i / 10:.1f}" for i in range(1000)], dtype=object)
_DIGITS = np.array([str(i) for i in range(14)], dtype=object)


def _rng(seed, salt):
    return np.random.default_rng([seed, salt])


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _publish(final, writer):
    """Run `writer` on a temporary directory renamed to `final` when
    complete; no-op if `final` exists."""
    if os.path.isdir(final):
        return
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    writer(tmp)
    os.rename(tmp, final)


def _cdc_columns(rng, n, id0):
    """n patient rows with a logistic label (about 12% positive)."""
    p_bin = np.array([0.43, 0.42, 0.96, 0.44, 0.04, 0.09, 0.76, 0.63, 0.81, 0.06,
                      0.95, 0.08, 0.17, 0.44])
    binary = (rng.random((n, len(BINARY))) < p_bin).astype(np.int32)
    gen = rng.integers(1, 6, n)
    age = rng.integers(1, 14, n)
    edu = rng.integers(1, 7, n)
    inc = rng.integers(1, 9, n)
    bmi = np.round(np.clip(rng.normal(28.4, 6.6, n), 12, 98), 1)
    ment = np.clip(rng.poisson(3.2, n), 0, 30).astype(np.int32)
    phys = np.clip(rng.poisson(4.2, n), 0, 30).astype(np.int32)
    w_bin = np.array([0.75, 0.55, 0.9, 0.0, 0.35, 0.45, -0.1, -0.05, -0.05, -0.7,
                      0.05, 0.05, 0.3, 0.25])
    logit = (-5.35 + binary @ w_bin + 0.55 * (gen - 1) + 0.17 * age - 0.06 * edu
             - 0.07 * inc + 0.06 * (bmi - 28) + 0.01 * phys + rng.logistic(0, 1, n) * 0.7)
    label = (logit > 0).astype(np.int32)
    # 2% of BMI values missing: half NULL, half a string missing-token
    bmi_s = _TENTHS[np.rint(bmi * 10).astype(np.int64)]
    miss = rng.random(n) < 0.02
    tok = rng.integers(0, len(MISSING_TOKENS), n)
    bmi_s[miss] = [None if t % 2 else MISSING_TOKENS[t] for t in tok[miss]]
    cols = {"id": np.arange(id0, id0 + n, dtype=np.int64),
            "Diabetes_binary": label}
    cols.update({c: binary[:, i] for i, c in enumerate(BINARY)})
    cols.update({"BMI": bmi_s, "MentHlth": ment, "PhysHlth": phys,
                 "GenHlth": _DIGITS[gen], "Age": _DIGITS[age], "Education": _DIGITS[edu],
                 "Income": _DIGITS[inc]})
    return cols


def cdc_table(seed, rows, dup_share, final):
    """`rows` patients plus `dup_share` of them repeated with a later
    timestamp and re-drawn features; keep-latest dedup recovers `rows`."""
    def write(tmp):
        rng = _rng(seed, 1)
        cols = _cdc_columns(rng, rows, 0)
        ts = EPOCH_2024_US + rng.integers(0, 20 * DAY_US, rows)
        ndup = int(rows * dup_share)
        dup_ids = np.sort(rng.choice(rows, ndup, replace=False))
        dcols = _cdc_columns(rng, ndup, 0)
        dcols["id"] = dup_ids.astype(np.int64)
        dts = ts[dup_ids] + rng.integers(1, DAY_US, ndup)
        table = {k: np.concatenate([cols[k], dcols[k]]) for k in cols}
        table["ts"] = np.concatenate([ts, dts]).astype("datetime64[us]")
        order = rng.permutation(rows + ndup)
        _write(pa.table({k: v[order] for k, v in table.items()}), os.path.join(tmp, "cdc.parquet"))
    _publish(final, write)


def request_files(seed, files, rows_per_file, poison_share, final):
    """`files` parquet files of fresh patients, one microbatch each, with
    exactly round(poison_share * rows) rows per file made invalid: out of
    domain, not castable, above max or below min, in turn. The manifest
    records each file's poisoned count."""
    def write(tmp):
        rng = _rng(seed, 2)
        n = files * rows_per_file
        npois = int(round(rows_per_file * poison_share))
        cols = _cdc_columns(rng, n, 10_000_000)
        cols["file_no"] = np.repeat(np.arange(files, dtype=np.int32), rows_per_file)
        ts = EPOCH_2024_US + 30 * DAY_US + cols["file_no"].astype(np.int64)
        cols["ts"] = ts.astype("datetime64[us]")
        bad = np.concatenate([f * rows_per_file + rng.choice(rows_per_file, npois, replace=False)
                              for f in range(files)])
        kind = np.arange(len(bad)) % 4
        cols["GenHlth"][bad[kind == 0]] = "9"
        cols["Age"][bad[kind == 1]] = "unknown"
        cols["BMI"][bad[kind == 2]] = "250.0"
        cols["MentHlth"][bad[kind == 3]] = -1
        table = pa.table(cols)
        src = os.path.join(tmp, "in")
        os.makedirs(src)
        for f in range(files):
            _write(table.slice(f * rows_per_file, rows_per_file),
                   os.path.join(src, f"batch_{f:05d}.parquet"))
        with open(os.path.join(tmp, "manifest.json"), "w") as fh:
            json.dump([{"file_no": f, "rows": rows_per_file, "poisoned": npois}
                       for f in range(files)], fh)
    _publish(final, write)


# analytics corpus: the TPC-H-ish star schema plus events, documents and
# embeddings, with a 20% zipf head on o_custkey and events.user_id
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream", "value", "data",
         "small", "join", "filter", "big", "group", "hash", "customer", "sort", "order", "slow",
         "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
EPOCH_1995_US = 788_918_400_000_000


def _hot(rng, keys, share):
    """Reassign a `share` of foreign keys to key 1 (the zipf head)."""
    keys = keys.copy()
    keys[rng.random(len(keys)) < share] = 1
    return keys


def analytics_corpus(seed, scale, hot_share, final):
    """Tables sized like the sf0.1 test corpus times `scale`."""
    def write(tmp):
        rng = _rng(seed, 3)
        n_cust, n_ord, n_li = int(15_000 * scale), int(150_000 * scale), int(600_000 * scale)
        n_ev, n_user = int(100_000 * scale), int(1_500 * scale)
        n_doc, n_emb = int(5_000 * scale), int(2_000 * scale)
        rows = {}

        def out(name, cols):
            table = pa.table(cols)
            rows[name] = table.num_rows
            _write(table, os.path.join(tmp, f"{name}.parquet"))
        out("region", {"r_regionkey": np.arange(5, dtype=np.int32),
                       "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
        out("nation", {"n_nationkey": np.arange(25, dtype=np.int32),
                       "n_name": [f"NATION_{i}" for i in range(25)],
                       "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
        out("customer", {"c_custkey": np.arange(n_cust, dtype=np.int64),
                         "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                         "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                         "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                         "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
        odate = EPOCH_1995_US + rng.integers(0, 2405, n_ord) * DAY_US
        out("orders", {"o_orderkey": np.arange(n_ord, dtype=np.int64),
                       "o_custkey": _hot(rng, rng.integers(0, n_cust, n_ord), hot_share),
                       "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                       "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
                       "o_orderdate": odate.astype("datetime64[us]"),
                       "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
        lok = rng.integers(0, n_ord, n_li)
        qty = rng.integers(1, 51, n_li).astype(np.float64)
        out("lineitem", {"l_orderkey": lok,
                         "l_partkey": rng.integers(0, int(20_000 * scale), n_li),
                         "l_suppkey": rng.integers(0, int(1_000 * scale), n_li),
                         "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
                         "l_quantity": qty,
                         "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
                         "l_discount": rng.integers(0, 11, n_li) / 100.0,
                         "l_tax": rng.integers(0, 9, n_li) / 100.0,
                         "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
                         "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
                         "l_shipdate": (odate[lok] + rng.integers(1, 122, n_li) * DAY_US)
                         .astype("datetime64[us]")})
        ts = np.sort(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, n_ev))
        out("events", {"event_id": np.arange(n_ev, dtype=np.int64),
                       "ts": ts.astype("datetime64[us]"),
                       "user_id": _hot(rng, rng.integers(0, n_user, n_ev), hot_share),
                       "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
                       "value": np.round(rng.exponential(50.0, n_ev), 2),
                       "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
        # documents: random word sequences; 5% near-dups (a copy plus one
        # word) and a handful of exact copies
        texts = [" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), k)])
                 for k in rng.integers(10, 101, n_doc)]
        for i in rng.choice(n_doc, n_doc // 20, replace=False):
            texts[i] = texts[rng.integers(0, n_doc)] + " dup"
        for i in rng.choice(n_doc, max(1, n_doc // 600), replace=False):
            texts[i] = texts[rng.integers(0, n_doc)]
        out("documents", {"doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
                          "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_doc)],
                          "source": [f"src{i % 20}" for i in range(n_doc)],
                          "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
        centers = rng.normal(0, 1, (10, 64))
        label = rng.integers(0, 10, n_emb)
        emb = centers[label] + rng.normal(0, 1.2, (n_emb, 64))
        emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
        out("embeddings", {"vec_id": np.arange(n_emb, dtype=np.int64),
                           "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
                           "label": label.astype(np.int32)})
        with open(os.path.join(tmp, "rows.json"), "w") as fh:
            json.dump(rows, fh)
    _publish(final, write)
