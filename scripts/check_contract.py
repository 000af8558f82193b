"""Local replica of the driver's correctness gate: run every
__spark_entry__.queries() entry at a given sf dir and compare against
oracle_sql() in DuckDB — row count, column names, and an order-insensitive
value hash (columns sorted by name, floats rounded).

Usage: check_contract.py [SF_DIR] [only,names] [--json OUT.json]
With --json, also writes a machine-readable artifact: per-entry
rows/schema/hash verdicts PLUS wall-clock seconds, so entry-level perf
regressions are visible round-over-round."""

from __future__ import annotations

import hashlib
import json
import math
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from liblevenshtein_spark.driver_queries import (  # noqa: E402
    _DUCK_SAMPLED_TRUTH,
    _DUCK_TRUTH,
    DUCK_TRANSCRIPTS,
)
from liblevenshtein_spark.session import build_session  # noqa: E402

argv = list(sys.argv[1:])
JSON_OUT = None
if "--json" in argv:
    i = argv.index("--json")
    JSON_OUT = argv[i + 1]
    del argv[i:i + 2]
STAGE_BASE = True
if "--no-stage-base" in argv:
    STAGE_BASE = False
    argv.remove("--no-stage-base")
SF_DIR = argv[0] if len(argv) > 0 else "/root/testdata/sf0.01"
ONLY = argv[1].split(",") if len(argv) > 1 else None

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon_duck_type(t) -> str:
    """Collapse a DuckDB type to the class the driver's Arrow-side hasher can
    distinguish.  HUGEINT gets its own tag on purpose: Spark has no int128, so
    any oracle emitting one (e.g. an uncast sum(BIGINT)) renders as
    decimal128 through Arrow and hash-mismatches even when values are equal —
    the exact bug class behind the three-round event_sessions red."""
    s = str(t).upper()
    if s.startswith(("HUGEINT", "UHUGEINT")):
        return "hugeint"
    if s.startswith("DECIMAL"):
        return "decimal"
    if "[]" in s or s.startswith(("LIST", "ARRAY")):
        return "list"
    if s.startswith(("STRUCT", "MAP", "UNION")):
        return "nested"
    if s in ("FLOAT", "REAL", "FLOAT4"):
        return "float32"
    if s in ("DOUBLE", "FLOAT8"):
        return "float64"
    if s.startswith("INTERVAL"):  # before the INT catch-all below
        return "interval"
    if s.startswith(("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
                     "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT", "INT")):
        return "int"
    if s.startswith("TIMESTAMP"):
        return "timestamp"
    if s.startswith("DATE"):
        return "date"
    if s.startswith(("VARCHAR", "STRING", "TEXT", "CHAR")):
        return "str"
    if s.startswith("BOOL"):
        return "bool"
    if s.startswith(("BLOB", "BINARY", "BYTEA")):
        return "binary"
    return s.lower()


def canon_spark_type(dt) -> str:
    s = dt.simpleString()
    if s.startswith("decimal"):
        return "decimal"
    if s.startswith("array"):
        return "list"
    if s.startswith(("struct", "map")):
        return "nested"
    return {
        "tinyint": "int", "smallint": "int", "int": "int", "bigint": "int",
        "float": "float32", "double": "float64", "string": "str",
        "boolean": "bool", "timestamp": "timestamp",
        "timestamp_ntz": "timestamp", "date": "date", "binary": "binary",
    }.get(s, s)


def type_mismatches(sdf_schema, scols, ocols, otypes):
    """Per-column canonical-type diff between the Spark schema and the DuckDB
    relation; returns a list of 'col: spark=X duck=Y' strings (empty = parity)."""
    stypes = {f.name.lower(): canon_spark_type(f.dataType) for f in sdf_schema.fields}
    dtypes = {c: canon_duck_type(t) for c, t in zip(ocols, otypes)}
    bad = []
    for c in sorted(set(c.lower() for c in scols) & set(ocols)):
        if stypes.get(c) != dtypes.get(c):
            bad.append(f"{c}: spark={stypes.get(c)} duck={dtypes.get(c)}")
    return bad


def norm_val(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    return str(v)


def hash_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    digest = 0
    for row in rows:
        s = "\x1f".join(norm_val(row[i]) for i in order)
        digest ^= int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big")
    return digest


# The six eval-truth oracles (eval_pairwise_f1, eval_blocking_recall,
# eval_threshold_sweep, eval_scheme_quality, blocking_scheme_learn,
# threshold_autotune) all embed the IDENTICAL blocking-free banded
# brute-force truth CTE (driver_queries._DUCK_TRUTH). Recomputing it per
# entry cost ~230-244 s EACH at sf0.1 (~24 min of the r04 gate,
# CONTRACT_r04_sf0.1.json). The gate stages it ONCE per session as a DuckDB
# temp table and rewrites the exact CTE text to read from it — same SQL,
# same session, so the substitution is value-identical by construction. The
# oracle strings the DRIVER sees stay fully self-contained (it runs them
# standalone at sf0.01, where the truth scan is cheap).
_STAGED_TRUTH_CTE = "truth AS (SELECT id_a, id_b FROM _staged_truth)"


def stage_truth_once(con, oracles, names, base_staged: bool = False) -> float | None:
    if not any(_DUCK_TRUTH in oracles.get(n, "") for n in names):
        return None
    t0 = time.time()
    if base_staged:
        # canonical2 already exists as a staged temp table — build the truth
        # from the verbatim CTE body against it instead of re-deriving the
        # whole transcript chain inside this statement
        body = _DUCK_TRUTH.split("(", 1)[1].rsplit(")", 1)[0]
        con.sql("CREATE TEMP TABLE _staged_truth AS " + body)
    else:
        con.sql("CREATE TEMP TABLE _staged_truth AS " + DUCK_TRANSCRIPTS +
                ",\n" + _DUCK_TRUTH + "\nSELECT id_a, id_b FROM truth")
    return round(time.time() - t0, 2)


# The two sampled-truth oracles (eval_pairwise_f1_sampled,
# eval_blocking_recall_sampled) share the identical (samp, struth) fragment
# (driver_queries._DUCK_SAMPLED_TRUTH — the rate^2-cut brute force, ~20 min
# of DuckDB at sf1 PER ENTRY). Same treatment: stage once, rewrite the
# verbatim fragment to read the temp tables.
_STAGED_SAMPLED_CTE = ("samp AS (SELECT * FROM _staged_samp),\n"
                       "struth AS (SELECT id_a, id_b FROM _staged_struth_s)")


def stage_sampled_truth_once(con, oracles, names, base_staged: bool) -> float | None:
    if not any(_DUCK_SAMPLED_TRUTH in oracles.get(n, "") for n in names):
        return None
    t0 = time.time()
    samp_body, struth_body = (
        part.split("(", 1)[1].rsplit(")", 1)[0]
        for part in _DUCK_SAMPLED_TRUTH.split("struth AS MATERIALIZED")
    )
    if not base_staged:
        con.sql("CREATE TEMP TABLE canonical2 AS " + DUCK_TRANSCRIPTS +
                "SELECT * FROM canonical2")
    con.sql("CREATE TEMP TABLE _staged_samp AS " + samp_body)
    con.sql("CREATE TEMP TABLE _staged_struth_s AS " +
            struth_body.replace("samp ca", "_staged_samp ca")
            .replace("samp cb", "_staged_samp cb"))
    return round(time.time() - t0, 2)


# The same staging argument applies to the derived-transcripts CTE chain
# itself (DUCK_TRANSCRIPTS: corpus -> transcripts -> canonical2 -> sig_keys
# -> cand_pairs -> scored -> matches): every transcript oracle re-evaluates
# the whole chain per entry, which is tolerable at sf0.01 but multiplies at
# sf0.1+ and dominates an sf1 run. With --stage-base, each CTE is
# materialized ONCE per session as a temp table (from the exact same SQL
# text, same session — value-identical by construction) and the
# DUCK_TRANSCRIPTS prefix in each oracle is rewritten to a stub WITH whose
# remaining CTEs resolve against the temp tables. The driver still consumes
# the untouched self-contained strings.
_BASE_CTES = ["corpus", "transcripts", "canonical", "canonical2", "sig_keys",
              "cand_pairs", "scored", "matches"]
_BASE_STUB = "\nWITH _staged_base AS (SELECT 1)\n"


def _split_base_ctes() -> list[tuple[str, str]]:
    """Parse DUCK_TRANSCRIPTS into ordered (name, body) pairs by matching
    each `<name> AS MATERIALIZED (` opener to its balancing close paren.
    Identity is preserved by construction: each staged table is created
    from the verbatim body text, with earlier chain names resolving to the
    staged tables built from the same bodies — inductively the same values
    the inline CTE chain produces."""
    out = []
    s = DUCK_TRANSCRIPTS
    for name in _BASE_CTES:
        marker = f"{name} AS MATERIALIZED ("
        start = s.index(marker) + len(marker)
        depth, i = 1, start
        while depth:
            if s[i] == "(":
                depth += 1
            elif s[i] == ")":
                depth -= 1
            i += 1
        out.append((name, s[start:i - 1]))
    return out


def stage_base_once(con, oracles, names) -> float | None:
    if not any(DUCK_TRANSCRIPTS in oracles.get(n, "") for n in names):
        return None
    t0 = time.time()
    for name, body in _split_base_ctes():
        con.sql(f"CREATE TEMP TABLE {name} AS {body}")
    return round(time.time() - t0, 2)


def main():
    spark = build_session(master="local[8]", shuffle_partitions=16,
                          extra_conf={"spark.ui.enabled": "false"})
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = ONLY if ONLY else list(queries)
    base_sec = stage_base_once(con, oracles, names) if STAGE_BASE else None
    if base_sec is not None:
        print(f"staged transcript CTE chain in {base_sec}s")
    truth_sec = stage_truth_once(con, oracles, names,
                                 base_staged=base_sec is not None)
    if truth_sec is not None:
        print(f"staged shared eval truth in {truth_sec}s")
    struth_sec = stage_sampled_truth_once(con, oracles, names,
                                          base_staged=base_sec is not None)
    if struth_sec is not None:
        print(f"staged shared sampled truth in {struth_sec}s")
    failures = 0
    results: dict[str, dict] = {}
    for name, fn in queries.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            sschema = sdf.schema
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            results[name] = {"err": f"spark: {e}", "sec": round(time.time() - t0, 2)}
            continue
        if name not in oracles:
            sec = round(time.time() - t0, 2)
            print(f"ROWS  {name}: {len(srows)} rows (no oracle) [{sec}s]")
            results[name] = {"rows_only": True, "spark_rows": len(srows),
                             "err": None, "sec": sec}
            continue
        try:
            osql = oracles[name].replace(_DUCK_TRUTH, _STAGED_TRUTH_CTE) \
                .replace(_DUCK_SAMPLED_TRUTH, _STAGED_SAMPLED_CTE)
            if base_sec is not None:
                osql = osql.replace(DUCK_TRANSCRIPTS, _BASE_STUB)
            rel = con.sql(osql)
            ocols = [c.lower() for c in rel.columns]
            otypes = list(rel.types)
            orows = rel.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures += 1
            results[name] = {"err": f"duckdb: {e}", "sec": round(time.time() - t0, 2)}
            continue
        ok_cols = sorted(c.lower() for c in scols) == sorted(ocols)
        ok_count = len(srows) == len(orows)
        ok_hash = hash_rows([c.lower() for c in scols], srows) == hash_rows(ocols, orows)
        bad_types = type_mismatches(sschema, scols, ocols, otypes)
        ok_types = not bad_types
        sec = round(time.time() - t0, 2)
        status = "OK  " if (ok_cols and ok_count and ok_hash and ok_types) else "FAIL"
        if status == "FAIL":
            failures += 1
        results[name] = {
            "rows_match": ok_count, "schema_match": ok_cols, "hash_match": ok_hash,
            "type_match": ok_types, "type_mismatches": bad_types,
            "spark_rows": len(srows), "oracle_rows": len(orows),
            "err": None, "sec": sec,
        }
        print(f"{status}  {name}: spark={len(srows)} duck={len(orows)} cols_ok={ok_cols} hash_ok={ok_hash} types_ok={ok_types} [{sec}s]")
        if not ok_cols:
            print(f"      spark cols: {scols}  duck cols: {rel.columns}")
        if bad_types:
            print(f"      type mismatches: {bad_types}")
        if ok_cols and ok_count and not ok_hash:
            order = sorted(range(len(scols)), key=lambda i: scols[i].lower())
            sset = {tuple(norm_val(r[i]) for i in order) for r in srows}
            oorder = sorted(range(len(ocols)), key=lambda i: ocols[i])
            oset = {tuple(norm_val(r[i]) for i in oorder) for r in orows}
            print(f"      spark-only: {sorted(sset - oset)[:3]}")
            print(f"      duck-only : {sorted(oset - sset)[:3]}")
    print("FAILURES:", failures)
    if JSON_OUT:
        with open(JSON_OUT, "w") as fh:
            json.dump({"sf_dir": SF_DIR, "failures": failures,
                       "base_staging_sec": base_sec,
                       "truth_staging_sec": truth_sec,
                       "sampled_truth_staging_sec": struth_sec,
                       "entries": results}, fh, indent=1)
        print("wrote", JSON_OUT)
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
