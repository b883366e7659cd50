#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle compare.

Usage: python3 tools/selfcheck.py <sfDir> <verifyOutDir>

For each query dumped by graft.Verify: run the oracle SQL in DuckDB over the
same parquet tables, then compare against the Spark parquet result —
columns sorted by name, rows sorted by all columns, exact value equality
(floats compared bit-for-bit after round-tripping through float64).
"""
import hashlib, json, os, re, sys, math
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# --- CC-family oracle memoization -----------------------------------
# The six CC-family twins (x_dedup_cc/_cohesion/_resolve/_sizes,
# x_split_leakage, x_dedup_incremental_cc) share the ccCtesSql block
# verbatim; its all-pairs jaccard `edges` and recursive-closure `comp`
# CTEs cost DuckDB ~35 min EACH at sf0.1 (the r12 sweep's 2.2 h long
# pole was one twin). Memoize both relations as per-fixture parquet —
# keyed on md5(fixture path + block text), so any change to the twin
# SQL or the fixture invalidates the cache — and rewrite each affected
# twin to read the cache. Values are exact BIGINTs; the parquet
# round-trip is lossless, so rewritten twins stay bit-faithful.
CC_COMP_RE = re.compile(
    r"comp AS \(SELECT src AS doc_id, MIN\(dst\) AS component\s*"
    r"FROM reach GROUP BY src\)")
CC_EDGES_RE = re.compile(
    r"edges AS \(SELECT a\.doc_id AS id_a, b\.doc_id AS id_b.*?"
    r">= 0\.8\),", re.DOTALL)


def cc_cache(con, oracle, sf_dir):
    sample = next((s for s in oracle.values()
                   if CC_COMP_RE.search(s) and CC_EDGES_RE.search(s)),
                  None)
    if sample is None:
        return oracle
    block = sample[sample.index("WITH ") + 5:CC_COMP_RE.search(sample).end()]
    # Content-aware key: the fixture's parquet (name, size, mtime_ns)
    # fingerprints join the path + CTE text, so regenerating the data
    # IN PLACE invalidates the cache instead of silently reusing a
    # closure computed over the old corpus.
    sig = [os.path.realpath(sf_dir), block]
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            st = os.stat(p)
            sig.append(f"{t}:{st.st_size}:{st.st_mtime_ns}")
    key = hashlib.md5("\x00".join(sig).encode()).hexdigest()[:16]
    cdir = os.path.join("/tmp/graft_oracle_cache", key)
    edges_pq = os.path.join(cdir, "cc_edges.parquet")
    comp_pq = os.path.join(cdir, "cc_comp.parquet")
    if not (os.path.exists(edges_pq) and os.path.exists(comp_pq)):
        os.makedirs(cdir, exist_ok=True)
        print(f"NOTE: building CC-oracle cache at {cdir} "
              "(one-time per fixture)")
        # Build under process-private names, publish with atomic
        # renames: concurrent shards (--only one-twin-per-process) may
        # race here, and a reader must never see a half-written file.
        tmp_e = f"{edges_pq}.tmp.{os.getpid()}"
        tmp_c = f"{comp_pq}.tmp.{os.getpid()}"
        con.execute(f"COPY (WITH {block} SELECT * FROM edges) TO "
                    f"'{tmp_e}' (FORMAT parquet)")
        # comp builds FROM the just-built edges (halves the build cost)
        block2 = CC_EDGES_RE.sub(
            f"edges AS (SELECT * FROM read_parquet('{tmp_e}')),", block)
        con.execute(f"COPY (WITH {block2} SELECT * FROM comp) TO "
                    f"'{tmp_c}' (FORMAT parquet)")
        os.replace(tmp_e, edges_pq)
        os.replace(tmp_c, comp_pq)
    else:
        print(f"NOTE: using CC-oracle cache at {cdir}")
    out = {}
    for name, sql in oracle.items():
        if block in sql:
            sql = CC_EDGES_RE.sub(
                f"edges AS (SELECT * FROM read_parquet('{edges_pq}')),",
                sql)
            sql = CC_COMP_RE.sub(
                f"comp AS (SELECT * FROM read_parquet('{comp_pq}'))", sql)
        out[name] = sql
    return out


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes for compare: ints -> int64, floats -> float64
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].apply(
                lambda v: str(v) if not isinstance(v, (list,)) else json.dumps(
                    [str(x) for x in v]))
    df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def main(sf_dir: str, out_dir: str, only=None, skip=None,
         threads=None, no_cc_cache=False) -> int:
    con = duckdb.connect()
    if threads:
        con.execute(f"PRAGMA threads={int(threads)}")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    try:
        oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    except FileNotFoundError:
        # dev-loop dump under SPARK_GRAFT_ONLY (Verify writes the filtered
        # contract under a distinct name so it can't impersonate the full
        # one, and deletes the full one so a stale dump can't shadow it)
        oracle = json.load(open(f"{out_dir}/oracle_sql.partial.json"))
        print(f"NOTE: using PARTIAL contract ({len(oracle)} queries)")
    if only:
        oracle = {k: v for k, v in oracle.items() if k in only}
    if skip:
        oracle = {k: v for k, v in oracle.items() if k not in skip}
    if not no_cc_cache:
        oracle = cc_cache(con, oracle, sf_dir)
    n_ok = 0
    for name, sql in sorted(oracle.items()):
        try:
            want = canon(con.execute(sql).df())
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            continue
        try:
            got = canon(duckdb.connect().execute(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").df())
        except Exception as e:
            print(f"FAIL {name}: spark result unreadable: {e}")
            continue
        if list(want.columns) != list(got.columns):
            print(f"FAIL {name}: columns {list(got.columns)} != {list(want.columns)}")
            continue
        if len(want) != len(got):
            print(f"FAIL {name}: rows {len(got)} != {len(want)}")
            continue
        bad = None
        for c in want.columns:
            wv, gv = want[c].tolist(), got[c].tolist()
            for i, (w, g) in enumerate(zip(wv, gv)):
                weq = (w == g) or (
                    isinstance(w, float) and isinstance(g, float)
                    and math.isnan(w) and math.isnan(g))
                if not weq:
                    bad = (c, i, w, g)
                    break
            if bad:
                break
        if bad:
            c, i, w, g = bad
            d = abs(w - g) if isinstance(w, float) and isinstance(g, float) else ""
            print(f"FAIL {name}: col={c} row={i} oracle={w!r} spark={g!r} diff={d}")
        else:
            n_ok += 1
            print(f"OK   {name} ({len(want)} rows)")
    print(f"== {n_ok}/{len(oracle)} match")
    return 0 if n_ok == len(oracle) else 1


if __name__ == "__main__":
    # optional: --only a,b,c | --skip a,b,c | --threads N (for parallel
    # sharding of the extended sf0.1 sweep — the CC-family twins cost
    # the ORACLE ~35 min each and shard one-per-process)
    only = skip = threads = None
    no_cc_cache = False
    args = sys.argv[3:]
    while args:
        if args[0] == "--no-cc-cache":
            no_cc_cache, args = True, args[1:]
            continue
        if len(args) < 2:
            raise SystemExit(f"flag {args[0]} needs a value (usage: "
                             "--only a,b | --skip a,b | --threads N "
                             "| --no-cc-cache)")
        flag, val, args = args[0], args[1], args[2:]
        if flag == "--only":
            only = set(val.split(","))
        elif flag == "--skip":
            skip = set(val.split(","))
        elif flag == "--threads":
            threads = val
        else:
            raise SystemExit(f"unknown flag {flag}")
    sys.exit(main(sys.argv[1], sys.argv[2], only, skip, threads,
                  no_cc_cache))
