"""Output checks: DuckDB oracles and the VGVI kernel check.

A job's output is correct when its row count and its order-insensitive
value hash (the hash ``tools/driver_mimic.py`` applies: sorted columns,
sorted rows, dtype kinds, ``%.17g`` floats) equal those of the DuckDB
result of the job's ``oracle_sql()`` over the same generated inputs
(``dedup_minhash``: the ``minhash`` rows of the ``q_dedup_neardup``
oracle).

The flagship job has no single oracle: its availability + accessibility
columns are the ``q_exposure_pages`` oracle, compared on a fixed 1-in-13
subsample of urls (each url's exposure depends on that url alone, and the
DuckDB explode costs ~1 s per 1,000 points); its ``vgvi`` column must lie
in [0, 1], be non-null exactly on sampled observers, and equal a direct
kernel call on the first observers.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd

ORACLE_SAMPLE = 13          # flagship oracle runs on doc_id % 13 == 0
KERNEL_OBSERVERS = 8        # observers re-computed by a direct kernel call
VGVI_TOL = 1e-12

# jobs whose oracle is (part of) another query's oracle
ORACLE_OF = {"flagship_exposure_pages": "q_exposure_pages",
             "dedup_minhash": "q_dedup_neardup"}

EXPOSURE_COLS = ["url", "warc_ts", "x", "y", "n_chars", "mean_ndvi",
                 "sd_ndvi", "n_cells", "closest_greenspace",
                 "greenspace_in_buffer"]


def vhash(pdf: pd.DataFrame) -> str:
    pdf = pdf[sorted(pdf.columns)]
    pdf = pdf.sort_values(by=list(pdf.columns),
                          kind="mergesort").reset_index(drop=True)
    kinds = [d.kind for d in pdf.dtypes]
    payload = (repr(kinds) + "\n"
               + pdf.to_csv(index=False, float_format="%.17g"))
    return hashlib.md5(payload.encode()).hexdigest()


def signature(pdf: pd.DataFrame) -> dict:
    return {"rows": len(pdf), "hash": vhash(pdf)}


def doc_ids_of(urls: pd.Series) -> pd.Series:
    return urls.str.extract(r"page/([0-9]+)$")[0].astype("int64")


def oracle_signatures(data_dir: str, names: list[str],
                      cache_path: str) -> dict:
    """{job name: signature} of each job's oracle over the ``documents``
    table in ``data_dir``, cached per input: the key hashes the table's
    bytes, this file and every oracle SQL text the jobs use."""
    import __spark_entry__ as entry
    sql = entry.oracle_sql()
    docs = os.path.join(data_dir, "documents.parquet")
    h = hashlib.sha256()
    for path in (docs, __file__):
        with open(path, "rb") as f:
            h.update(f.read())
    for q in sorted(ORACLE_OF.get(n, n) for n in names):
        h.update(q.encode() + b"\0" + sql[q].encode() + b"\0")
    key = h.hexdigest()
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cached = json.load(f)
        if cached.get("key") == key and set(cached["sig"]) >= set(names):
            return cached["sig"]
    import duckdb
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{docs}')")
        sig = {}
        for name in names:
            if name == "flagship_exposure_pages":
                con.execute(
                    "CREATE OR REPLACE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{docs}') WHERE doc_id % {ORACLE_SAMPLE} = 0")
                sig[name] = signature(con.sql(sql[ORACLE_OF[name]]).df())
                con.execute("CREATE OR REPLACE VIEW documents AS SELECT * "
                            f"FROM read_parquet('{docs}')")
            elif name == "dedup_minhash":
                sig[name] = signature(con.sql(
                    "SELECT doc_a, doc_b, score AS jaccard FROM "
                    f"({sql[ORACLE_OF[name]]}) WHERE method = 'minhash'").df())
            else:
                sig[name] = signature(con.sql(sql[name]).df())
    finally:
        con.close()
    with open(cache_path, "w") as f:
        json.dump({"key": key, "sig": sig}, f)
    return sig


def vgvi_problems(pdf: pd.DataFrame, sample_mod: int,
                  id_col: str = "point_id") -> list[str]:
    """Range, null-pattern and direct-kernel checks of a ``vgvi`` column.
    ``pdf`` holds ``id_col``, ``x``, ``y`` and ``vgvi`` for every point
    (observers and non-observers alike)."""
    from greenexp_r_spark import constants as C
    from greenexp_r_spark.kernels import vgvi as K
    from greenexp_r_spark.operators import visibility

    out = []
    observer = (pdf[id_col] % sample_mod == 0).to_numpy()
    v = pdf["vgvi"].to_numpy(dtype=float)
    if not np.array_equal(~np.isnan(v), observer):
        out.append("vgvi is not non-null exactly on sampled observers")
    vv = v[observer]
    if vv.size and not ((vv >= 0) & (vv <= 1)).all():
        out.append("vgvi outside [0, 1]")
    obs = pdf[observer].sort_values(id_col).head(KERNEL_OBSERVERS)
    if len(obs):
        r = int(round(C.VIS_MAX_DIST / C.VIS_RES))
        xs, ys = obs["x"].to_numpy(float), obs["y"].to_numpy(float)
        dsm, gs, h0 = visibility._patches(xs, ys, r, C.VIS_RES)
        want = K.vgvi_batch(dsm, gs, h0, r, C.VIS_RES, C.VIS_MAX_DIST, 1,
                            C.VGVI_M, C.VGVI_B)
        got = obs["vgvi"].to_numpy(float)
        if not np.allclose(got, want, rtol=0, atol=VGVI_TOL):
            out.append("vgvi differs from a direct kernel call")
    return out


def flagship_problems(pdf: pd.DataFrame, want: dict, n_urls: int,
                      sample_mod: int) -> list[str]:
    """Checks of the flagship output (exposure columns + ``vgvi``)."""
    out = []
    if len(pdf) != n_urls:
        out.append(f"{len(pdf)} rows for {n_urls} urls")
    ids = doc_ids_of(pdf["url"])
    sub = pdf.loc[ids % ORACLE_SAMPLE == 0, EXPOSURE_COLS]
    if signature(sub.reset_index(drop=True)) != want:
        out.append("exposure columns differ from the q_exposure_pages oracle")
    vis = pd.DataFrame({"point_id": ids, "x": pdf["x"], "y": pdf["y"],
                        "vgvi": pdf["vgvi"]})
    return out + vgvi_problems(vis, sample_mod)


def checked_first(pdf: pd.DataFrame) -> pd.DataFrame:
    """The flagship output with the rows the oracle compares first."""
    ids = doc_ids_of(pdf["url"])
    return pdf.iloc[np.argsort((ids % ORACLE_SAMPLE != 0).to_numpy(),
                               kind="stable")]


def corrupt(pdf: pd.DataFrame) -> pd.DataFrame:
    """A copy of ``pdf`` with one value of its first row changed: one ulp
    for a float, +1 for an integer, one character for anything else."""
    bad = pdf.copy()
    col = bad.columns[0]
    for c in bad.columns:
        if bad[c].dtype.kind == "f" and bad[c].notna().iloc[0]:
            col = c
            break
    v = bad.at[bad.index[0], col]
    kind = bad[col].dtype.kind
    if kind == "f":
        bad.at[bad.index[0], col] = np.nextafter(v, np.inf)
    elif kind in "iu":
        bad.at[bad.index[0], col] = v + 1
    elif kind == "b":
        bad.at[bad.index[0], col] = not v
    else:
        bad[col] = bad[col].astype(object)
        bad.at[bad.index[0], col] = f"{v}~"
    return bad


def self_test(pdf: pd.DataFrame, problems) -> bool:
    """True when ``problems`` accepts ``pdf`` but reports both a
    corrupted copy of it and a copy missing its last row."""
    return (not problems(pdf) and bool(problems(corrupt(pdf)))
            and bool(problems(pdf.iloc[:-1])))
