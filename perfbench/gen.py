"""Seeded input generators. Pure numpy/pyarrow: no Spark, so input
generation stays outside every timed interval and outside ``setup_s``.

- ``registry_tables``: the ten registry tables in the shape of the fixed
  sf0.1 test set (TPC-H-ish star schema, ``events``, ``documents``,
  ``embeddings``), generated once from a fixed seed and cached.
- ``gdelt_drop``: zipped GDELT 2.0 event exports plus a listing page, with
  planted NULL shares in the three filter columns.
- ``corpus``: documents with planted exact and near duplicates.
- ``clustered_vectors``: clustered 64-d vectors for the ANN index.
"""

from __future__ import annotations

import os
import shutil
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the data spark table row column key value join hash sort merge agg "
    "group window stream batch scan filter query line order customer part "
    "vector big small fast slow"
).split()
ADJ = ["small", "red", "blue", "hot", "old", "large", "cold", "new"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring"]


def _ts_us(days: np.ndarray, base: str) -> pa.Array:
    us = (np.datetime64(base, "us") + days.astype("timedelta64[D]")).astype("int64")
    return pa.array(us, type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def registry_tables(out_dir: str, sf: float = 0.1, seed: int = 42) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for the ten registry tables at
    scale ``sf`` (sf0.1: 600k lineitem, 150k orders, 100k events, 5k
    documents, 2k embeddings). Returns rows per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": rng.uniform(-999.99, 9999.99, n_cust).round(2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": rng.uniform(-999.99, 9999.99, n_supp).round(2),
    })
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": np.char.add(
            np.char.add(rng.choice(ADJ, n_part), " "), rng.choice(NOUN, n_part)
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
        ),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": (900 + (pk % 1000) / 10).round(1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": rng.uniform(1000, 500_000, n_ord).round(2),
        "o_orderdate": _ts_us(rng.integers(0, 2404, n_ord), "1995-01-01"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": rng.uniform(900, 105_000, n_li).round(2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts_us(rng.integers(1, 2499, n_li), "1995-01-01"),
    })
    gaps = rng.exponential(30 * 86_400e6 / n_ev, n_ev)
    ts = (np.datetime64("2024-01-01", "us").astype("int64") + np.cumsum(gaps)).astype(
        np.int64
    )
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, int(15_000 * sf), n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": rng.exponential(50.0, n_ev).round(2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = [
        " ".join(rng.choice(VOCAB, int(rng.integers(10, 101))))
        for _ in range(n_doc)
    ]
    for i in rng.choice(n_doc, max(1, n_doc // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))]  # a few exact repeats
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "de", "fr"], n_doc,
                           p=[0.44, 0.15, 0.15, 0.14, 0.12]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return {t: pq.ParquetFile(os.path.join(out_dir, f"{t}.parquet")).metadata.num_rows
            for t in ("region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings")}


# ------------------------------------------------------------------ GDELT drop
GDELT_FILES = (
    "20150101.export.CSV", "20150102.export.CSV", "20160301.export.CSV",
    "20170501.export.CSV", "201502.csv", "201603.csv", "2015.csv", "2016.csv",
)
FILTER_COLUMNS = ("Actor1Code", "ActionGeo_CountryCode", "QuadClass")


def gdelt_drop(work: str, n: int, seed: int, null_share: float) -> dict:
    """``n`` GDELT rows split over the eight export files of
    ``GDELT_FILES``, each holding events of the day, month or year its
    name states (four daily → flat lake, two monthly + two yearly →
    Hive-partitioned history), zipped as the real exports are, plus a
    directory-listing page with 3,000 out-of-range decoy links.
    Each of the three filter columns is NULL on an independent
    ``null_share`` of rows, so the filter stage's output count is known.
    Returns the paths and the planted expectations."""
    import pandas as pd

    from gdelt_2_0_event_database_pipeline_spark.schema import GDELT_COLUMNS

    rng = np.random.default_rng(seed)
    per = n // len(GDELT_FILES)
    bounds = [(i * per, n if i == len(GDELT_FILES) - 1 else (i + 1) * per)
              for i in range(len(GDELT_FILES))]
    # each export holds the events of the period its name states
    years, months, days = (np.empty(n, dtype=np.int64) for _ in range(3))
    for name, (lo, hi) in zip(GDELT_FILES, bounds):
        stem = name.split(".")[0]
        years[lo:hi] = int(stem[:4])
        months[lo:hi] = int(stem[4:6]) if len(stem) >= 6 else rng.integers(1, 13, hi - lo)
        days[lo:hi] = int(stem[6:8]) if len(stem) == 8 else rng.integers(1, 29, hi - lo)
    nulls = {c: rng.random(n) < null_share for c in FILTER_COLUMNS}
    actor1 = np.char.add("ACT", (np.arange(n) % 50).astype(str)).astype(object)
    actor1[nulls["Actor1Code"]] = None
    country = rng.choice(["USA", "BRA", "CHN", "RUS", "FRA", "IND"], n).astype(object)
    country[nulls["ActionGeo_CountryCode"]] = None
    quad = rng.choice([1.0, 2.0, 3.0, 4.0], n)
    quad[nulls["QuadClass"]] = np.nan
    pdf = pd.DataFrame({
        "GlobalEventID": np.arange(1, n + 1, dtype=np.int64),
        "Day": years * 10000 + months * 100 + days,
        "MonthYear": years * 100 + months,
        "Year": years,
        "FractionDate": years + (months - 1) / 12.0,
        "Actor1Code": actor1,
        "IsRootEvent": rng.integers(0, 2, n).astype(np.int64),
        "EventCode": rng.choice(["010", "020", "042", "043", "190"], n),
        "QuadClass": quad,
        "GoldsteinScale": rng.uniform(-10, 10, n).round(1),
        "NumMentions": rng.integers(1, 100, n).astype(np.int64),
        "NumArticles": rng.integers(1, 50, n).astype(np.int64),
        "AvgTone": rng.uniform(-100, 100, n).round(2),
        "ActionGeo_CountryCode": country,
        "ActionGeo_Lat": rng.uniform(-60, 60, n).round(4),
    }).reindex(columns=list(GDELT_COLUMNS))

    zips = os.path.join(work, "zips")
    os.makedirs(zips)
    for name, (lo, hi) in zip(GDELT_FILES, bounds):
        csv_path = os.path.join(work, name)
        pdf.iloc[lo:hi].to_csv(csv_path, sep="\t", header=False, index=False)
        with zipfile.ZipFile(os.path.join(zips, name + ".zip"), "w",
                             zipfile.ZIP_DEFLATED) as zf:
            zf.write(csv_path, arcname=name)
        os.remove(csv_path)
    links = [f'<a href="{name}.zip">{name}.zip</a>' for name in GDELT_FILES]
    links += [
        f'<a href="{2018 + i % 7}{1 + i % 12:02d}{1 + i % 28:02d}.export.CSV.zip">x</a>'
        for i in range(3000)
    ]
    keep = ~(nulls["Actor1Code"] | nulls["ActionGeo_CountryCode"] | nulls["QuadClass"])
    return {
        "zips": zips,
        "html": "<html><body>" + "\n".join(links) + "</body></html>",
        "rows": n,
        "rows_after_filter": int(keep.sum()),
    }


# ---------------------------------------------------------------- LLM corpus
def corpus(work: str, n: int, seed: int, exact_share: float, near_share: float) -> dict:
    """``n`` documents written as parquet under ``<work>/docs``. Planted
    duplicates:

    - ``exact_share`` of documents repeat an earlier original verbatim
      (removed by ``dedup_exact``);
    - ``near_share`` of documents repeat an earlier original with its
      last word replaced (removed by ``dedup_near``: their Jaccard
      similarity over character 3-shingles is about 0.96 for these
      50–80-word documents).

    Originals draw words from a vocabulary of 5,000 random 3–9-letter
    words, so unplanted pairs share few shingles."""
    rng = np.random.default_rng(seed)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = np.array(["".join(rng.choice(letters, int(rng.integers(3, 10))))
                      for _ in range(5000)])
    n_exact, n_near = int(n * exact_share), int(n * near_share)
    n_orig = n - n_exact - n_near
    texts = [" ".join(rng.choice(vocab, int(rng.integers(50, 81)))) for _ in range(n_orig)]
    src = rng.choice(n_orig, n_exact + n_near, replace=False)
    for j, i in enumerate(src):
        t = texts[i]
        texts.append(t if j < n_exact else t.rsplit(" ", 1)[0] + " zzplanted")
    order = rng.permutation(n)  # planted copies land anywhere in id order
    texts = [texts[i] for i in order]
    docs = os.path.join(work, "docs")
    os.makedirs(docs)
    pq.write_table(pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "fr"], n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), os.path.join(docs, "part-0.parquet"))
    return {"docs": docs, "rows": n, "exact": n_exact, "near": n_near}


# ------------------------------------------------------------------ vectors
def clustered_vectors(n: int, dim: int, clusters: int, seed: int) -> np.ndarray:
    """``n`` float32 vectors around ``clusters`` random unit centres (noise
    of norm ~0.35 per vector), unit-normalized (cosine = dot)."""
    rng = np.random.default_rng(seed)
    centres = rng.standard_normal((clusters, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    x = centres[rng.integers(0, clusters, n)]
    x = x + 0.35 * rng.standard_normal((n, dim)) / np.sqrt(dim)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32)


def write_vectors(path: str, ids: np.ndarray, x: np.ndarray, extra: dict | None = None) -> None:
    os.makedirs(path, exist_ok=True)
    cols = {"vec_id": ids.astype(np.int64),
            "embedding": pa.array(list(x), type=pa.list_(pa.float32()))}
    cols.update(extra or {})
    pq.write_table(pa.table(cols), os.path.join(path, "part-0.parquet"))


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
