"""Correctness checks, run after the timed window.

Pipelines: every round's sinks are compared with the DuckDB oracle SQL
the engine registers for q_climate_composite, q_temperature_composite,
q_humidity_composite and q_population_composite, run on the same
inputs. Precipitation compares as a multiset of (year, month, feature).
Temperature and humidity documents of a sharded month are reassembled
in shard order (the `Climate.featureCollection` contract) before they
are compared with the oracle's one document per month.

Query mix: each query's result from the cold round is fingerprinted
and compared with the oracle's fingerprint stored in
expected/query_mix.json.

Refresh the stored fingerprints with
`python3 perfbench/check.py expect <run.json> <results dir> <tables dir>`,
where run.json and results/ are what `graft.perfbench.Main --workload
query_mix` leaves in its --out directory (run.py deletes them after a run).
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import sys
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pyarrow.parquet as pq

PREFIX = '{"type":"FeatureCollection","features":['
SUFFIX = ']}'
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected", "query_mix.json")


def connect(tables_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        p = os.path.join(tables_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def documents_sql(src, humidity=False):
    """One row per (year, month) of a FeatureCollection output `src`
    (year, month, shard, collection): the shards reassembled in shard
    order, as the md5 of the whole document, with the part count and
    whether the parts were well formed and numbered 0..k-1."""
    lp, ls = len(PREFIX), len(SUFFIX)
    extra = (", sum(n_features) AS n_features, bool_and(valid) AS valid" if humidity else "")
    return f"""
        SELECT CAST(year AS INT) AS year, CAST(month AS INT) AS month, count(*) AS parts,
               min(shard) = 0 AND max(shard) = count(*) - 1
                 AND count(DISTINCT shard) = count(*) AS contiguous,
               bool_and(starts_with(collection, '{PREFIX}')
                        AND ends_with(collection, '{SUFFIX}')) AS wellformed,
               md5('{PREFIX}' || string_agg(
                   substr(collection, {lp + 1}, length(collection) - {lp + ls}),
                   ',' ORDER BY shard) || '{SUFFIX}') AS doc_md5{extra}
        FROM ({src}) GROUP BY 1, 2"""


class PipelineOracle:
    """The oracle's answer for one input directory, computed once and
    compared with each round's outputs."""

    def __init__(self, tables_dir, sql):
        self.con = connect(tables_dir)
        jobs = {
            "precipitation": "SELECT CAST(year AS INT) AS year, CAST(month AS INT) AS month, "
                             f"feature FROM ({sql['q_climate_composite']})",
            "temperature": documents_sql(sql["q_temperature_composite"]),
            "humidity": documents_sql(sql["q_humidity_composite"], humidity=True),
            "population": sql["q_population_composite"],
        }
        # independent queries: one cursor each, run side by side
        with ThreadPoolExecutor(len(jobs)) as pool:
            done = dict(zip(jobs, pool.map(
                lambda q: self.con.cursor().execute(q).fetch_arrow_table(), jobs.values())))
        self.con.register("ora_precip_arrow", done["precipitation"])
        self.con.execute("CREATE TABLE ora_precip AS SELECT * FROM ora_precip_arrow")
        self.con.unregister("ora_precip_arrow")
        self.temperature = _doc_rows(done["temperature"])
        self.humidity = _doc_rows(done["humidity"])
        self.population = _rows(done["population"], POPULATION_COLS)

    def check_rounds(self, roots):
        """check_round for several rounds, side by side."""
        with ThreadPoolExecutor(min(4, len(roots))) as pool:
            return list(pool.map(self.check_round, roots))

    def check_round(self, root):
        """{pipeline: error message or None} for one round's sinks, plus
        the document-route counts read from the temperature output."""
        cur = self.con.cursor()
        errors, routes = {}, {}

        def attempt(name, fn):
            try:
                errors[name] = fn()
            except Exception as e:  # noqa: BLE001 - any failure is a failed operation
                errors[name] = f"{type(e).__name__}: {e}"

        def precipitation():
            eng = ("SELECT CAST(year AS INT) AS year, CAST(month AS INT) AS month, feature "
                   f"FROM read_parquet('{root}/precipitation/*/*/*.parquet', hive_partitioning = true)")
            diff = cur.execute(
                f"SELECT count(*) FROM ((({eng}) EXCEPT ALL (SELECT * FROM ora_precip)) "
                f"UNION ALL ((SELECT * FROM ora_precip) EXCEPT ALL ({eng})))").fetchone()[0]
            return None if diff == 0 else f"{diff} (year, month, feature) rows differ from the oracle"

        def documents(name):
            src = f"SELECT * FROM read_parquet('{root}/{name}/*.parquet')"
            got = cur.execute(documents_sql(src, humidity=name == "humidity")).fetch_arrow_table()
            rows = got.to_pylist()
            if not all(r["contiguous"] and r["wellformed"] for r in rows):
                return "document parts are malformed or not numbered 0..k-1"
            if name == "temperature":
                parts = [r["parts"] for r in rows]
                routes.update(sharded_months=sum(1 for k in parts if k > 1),
                              inbound_months=sum(1 for k in parts if k == 1),
                              doc_parts=sum(parts))
            want = getattr(self, name)
            got = _doc_rows(got)
            if got != want:
                diff = sorted(set(got) ^ set(want))[:2]
                return f"documents differ from the oracle, e.g. {diff}"
            return None

        def population():
            got = _rows(pq.read_table(os.path.join(root, "population")), POPULATION_COLS)
            return None if got == self.population else "rows differ from the oracle"

        attempt("precipitation", precipitation)
        attempt("temperature", lambda: documents("temperature"))
        attempt("humidity", lambda: documents("humidity"))
        attempt("population", population)
        return errors, routes


POPULATION_COLS = ["country", "population", "year", "feature"]


def _doc_rows(table):
    """Comparable per-month rows of a documents_sql result."""
    cols = [c for c in ("year", "month", "doc_md5", "n_features", "valid") if c in table.column_names]
    return sorted(tuple(r[c] for c in cols) for r in table.select(cols).to_pylist())


def _rows(table, cols):
    return sorted(tuple(r[c] for c in cols) for r in table.select(cols).to_pylist())


def canon(v):
    """Engine-independent rendering of one cell: doubles to six
    significant digits (the oracle's tolerance, not its bits), times
    in UTC without a zone, containers recursively."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        v = float(v)
        if math.isnan(v):
            return "null"
        return "0" if v == 0 else "%.6g" % v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, str):
        return json.dumps(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{json.dumps(str(k))}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    return json.dumps(str(v))


def fingerprint(table):
    """Order-insensitive digest of a result table: column names sorted,
    rows rendered with `canon` and sorted."""
    cols = sorted(table.column_names)
    lines = sorted("|".join(canon(r[c]) for c in cols) for r in table.select(cols).to_pylist())
    h = hashlib.sha256(("|".join(cols) + "\n").encode("utf-8"))
    for line in lines:
        h.update(line.encode("utf-8") + b"\n")
    return f"{len(lines)}:{h.hexdigest()[:16]}"


def check_queries(results_dir, names, expected=None):
    """{query: error message or None} for the cold round's results."""
    if expected is None:
        with open(EXPECTED) as f:
            expected = json.load(f)
    out = {}
    for n in names:
        try:
            got = fingerprint(pq.read_table(os.path.join(results_dir, n)))
            want = expected[n]["fingerprint"]
            out[n] = None if got == want else f"fingerprint {got} != expected {want}"
        except Exception as e:  # noqa: BLE001
            out[n] = f"{type(e).__name__}: {e}"
    return out


def write_expected(run_json, results_dir, tables_dir):
    """Store the oracle's fingerprint of every query in the results
    directory, after checking that the engine's result agrees."""
    with open(run_json) as f:
        sql = json.load(f)["oracle_sql"]
    con = connect(tables_dir)
    out = {}
    for n in sorted(os.listdir(results_dir)):
        eng = fingerprint(pq.read_table(os.path.join(results_dir, n)))
        ora = fingerprint(con.execute(sql[n]).fetch_arrow_table())
        if ora != eng:
            raise SystemExit(f"{n}: engine {eng} disagrees with the oracle {ora}")
        out[n] = {"fingerprint": ora}
        print(n, ora, file=sys.stderr)
    os.makedirs(os.path.dirname(EXPECTED), exist_ok=True)
    with open(EXPECTED, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    if len(sys.argv) == 5 and sys.argv[1] == "expect":
        write_expected(*sys.argv[2:])
    else:
        raise SystemExit(__doc__)
