"""Off-clock correctness gate.

- Queries with a DuckDB twin (SparkEntry.oracleSql): the Spark result
  must equal the twin's on the same parquet under the repo's strict
  compare (tools/check.py: columns sorted by name, rows by all columns,
  cells by repr, so int vs float or Decimal drift fails). Expected
  results are computed once per input and cached under perfbench/.cache.
- Queries without a twin: a non-empty result whose digest is identical
  across two runs.
- table_maintain: the current read must equal a latest-per-key fold of
  the whole change log, and a version read the fold up to that version.
"""
import glob
import hashlib
import importlib.util
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _check_module(repo):
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join(repo, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def read_out(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def compare(got, want):
    """tools/check.py's strict compare of two canonicalized frames; a list
    of problems, empty when equal."""
    if list(got.columns) != list(want.columns):
        return [f"columns differ: spark={list(got.columns)} "
                f"oracle={list(want.columns)}"]
    if len(got) != len(want):
        return [f"rowcount differs: spark={len(got)} oracle={len(want)}"]
    unwrap = lambda x: x.item() if hasattr(x, "item") and getattr(x, "size", 1) == 1 else x
    probs = []
    for c in got.columns:
        a, b = got[c], want[c]
        if a.dtype == b.dtype:
            if a.dtype == object:
                if (pd.api.types.infer_dtype(a) == "string" == pd.api.types.infer_dtype(b)
                        and bool(np.asarray(a.values == b.values).all())):
                    continue
            elif a.equals(b) and (not pd.api.types.is_float_dtype(a.dtype) or
                                  bool((np.signbit(a.values) == np.signbit(b.values)).all())):
                continue
        bad = [(i, x, y) for i, (x, y) in enumerate(zip(a, b))
               if repr(unwrap(x)) != repr(unwrap(y))]
        if bad:
            i, x, y = bad[0]
            probs.append(f"col {c}: {len(bad)} cells differ, row {i}: "
                         f"spark={unwrap(x)!r} oracle={unwrap(y)!r}")
    return probs


def digest(df):
    """Order-independent digest of a frame (array cells included)."""
    rows = sorted(repr(tuple(map(repr, r)))
                  for r in df.reindex(sorted(df.columns), axis=1).itertuples(index=False))
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def inputs_key(in_dir, sqls):
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(in_dir, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    for name in sorted(sqls):
        h.update(name.encode() + b"\0" + sqls[name].encode() + b"\0")
    return h.hexdigest()[:24]


def check_queries(repo, in_dir, out_dir, rec, cache_dir):
    """{query: [problems]} for every op the check phase wrote."""
    chk = _check_module(repo)
    sqls = rec.get("oracle_sql", {})
    cache = os.path.join(cache_dir, inputs_key(in_dir, sqls))
    os.makedirs(cache, exist_ok=True)
    con = None
    res = {}
    for name, status in rec["checks"].items():
        if status != "written":
            res[name] = [status]
            continue
        got = read_out(os.path.join(out_dir, name))
        if name not in sqls:
            again = read_out(os.path.join(out_dir, name + ".again"))
            if got is None or len(got) == 0:
                res[name] = ["empty result"]
            else:
                res[name] = [] if again is not None and digest(got) == digest(again) \
                    else ["digest differs between runs"]
            continue
        if got is None:
            res[name] = ["no output"]
            continue
        path = os.path.join(cache, name + ".pkl")
        if os.path.exists(path):
            want = pd.read_pickle(path)
        else:
            if con is None:
                con = duckdb.connect()
                con.execute("SET memory_limit='1GB'")
                con.execute("SET threads=2")
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"'{in_dir}/{t}.parquet'")
            sql = sqls[name]
            want = chk.canon(chk.components_oracle(con, sql)
                             if "-- ORACLE-SPLIT" in sql else con.execute(sql).df())
            want.to_pickle(path)
        try:
            res[name] = compare(chk.canon(got), want)
        except Exception as e:  # an unsortable or unreadable result
            res[name] = [f"compare error: {type(e).__name__}: {e}"]
    if con is not None:
        con.close()
    return res


def fold_upsert(log_dir, upto):
    """Latest row per user_id over batches 0..upto (batch, then ts, then
    event_id decide)."""
    df = pd.concat([pq.read_table(f"{log_dir}/upsert_{b}.parquet").to_pandas()
                    .assign(__b=b) for b in range(upto + 1)], ignore_index=True)
    df = df.sort_values(["__b", "ts", "event_id"]).drop_duplicates("user_id", keep="last")
    return df.drop(columns="__b")


def fold_cdc(log_dir, upto):
    """Highest-seq record per key over batches 0..upto; deleted keys drop."""
    df = pd.concat([pq.read_table(f"{log_dir}/cdc_{b}.parquet").to_pandas()
                    for b in range(upto + 1)], ignore_index=True)
    df = df.sort_values("seq").drop_duplicates("o_orderkey", keep="last")
    return df[df.op != "D"].drop(columns=["seq", "op"])


def check_maintain(repo, in_dir, out_dir, rec):
    chk = _check_module(repo)
    c = rec["checks"]
    log_dir = os.path.join(in_dir, "changes")
    wants = [("upsert_current", fold_upsert, c["batches"]),
             ("cdc_current", fold_cdc, c["batches"])]
    for v in c["versions"]:
        wants += [(f"upsert_v{v}", fold_upsert, v), (f"cdc_v{v}", fold_cdc, v)]
    res = {}
    for name, fold, upto in wants:
        got = read_out(os.path.join(out_dir, name))
        if got is None:
            res[name] = ["no output"]
            continue
        want = fold(log_dir, upto)
        res[name] = compare(chk.canon(got), chk.canon(want.reset_index(drop=True)))
    return res
