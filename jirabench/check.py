"""Output checks, made apart from the engine.

* Queries: each first-round result is compared with DuckDB running the
  query's oracle SQL on the same parquet tables (column names, types and
  the rows as a multiset); every later round must return the same rows.
* Ingest: every round's final tables (parquet for the lake, the Derby
  tables for the API path) are compared with the generator's model, in
  which the last day that sent a key wins and a missing field is NULL:
  the row count must equal the distinct keys ever sent and a checksum of
  every column must equal the same checksum over the model. For the API
  path, every page address of every pull must have had exactly one 200
  response (the cursor skipped no page and re-read no committed one, also
  after a 429), and exactly the throttled pages one 429.

``run`` returns a list of error strings; empty means correct.
"""
import duckdb
import pyarrow as pa

import gen

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _round_fingerprints(result):
    """Every round must give each operation the first round's fingerprint."""
    errors = []
    first = {op["name"]: op["fp"] for op in result["rounds"][0]["ops"]}
    for i, r in enumerate(result["rounds"][1:], start=2):
        for op in r["ops"]:
            if op["fp"] != first[op["name"]]:
                errors.append(f"round {i} {op['name']}: {op['fp']} != {first[op['name']]}")
    return errors


def queries(result, model, corrupt):
    errors = _round_fingerprints(result)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{model['data']}/{t}.parquet'")
    for i, (name, q) in enumerate(sorted(result["queries"].items())):
        if not q["oracle"]:
            errors.append(f"{name}: no oracle SQL")
            continue
        con.sql(f"CREATE OR REPLACE TABLE got AS SELECT * FROM '{q['dir']}/*.parquet'")
        if corrupt and i == 0:
            con.sql("DELETE FROM got WHERE rowid = (SELECT min(rowid) FROM got)")
        con.sql(f"CREATE OR REPLACE TEMP VIEW exp_raw AS {q['oracle']}")
        got = con.sql("SELECT * FROM got")
        exp = con.sql("SELECT * FROM exp_raw")
        gcols = sorted(zip(got.columns, map(str, got.types)))
        ecols = sorted(zip(exp.columns, map(str, exp.types)))
        if gcols != ecols:
            errors.append(f"{name}: columns {gcols} != oracle {ecols}")
            continue
        sel = ", ".join(f'"{c}"' for c, _ in gcols)
        n_got = con.sql("SELECT count(*) FROM got").fetchone()[0]
        n_exp = con.sql("SELECT count(*) FROM exp_raw").fetchone()[0]
        only_got = con.sql(f"SELECT count(*) FROM (SELECT {sel} FROM got EXCEPT ALL "
                           f"SELECT {sel} FROM exp_raw)").fetchone()[0]
        only_exp = con.sql(f"SELECT count(*) FROM (SELECT {sel} FROM exp_raw EXCEPT ALL "
                           f"SELECT {sel} FROM got)").fetchone()[0]
        if n_got != n_exp or only_got or only_exp:
            errors.append(f"{name}: {n_got} rows vs oracle {n_exp}, "
                          f"{only_got} only in result, {only_exp} only in oracle")
    return errors


_ARROW = {"s": pa.string(), "l": pa.int64(), "b": pa.bool_(),
          "d": pa.date32(), "t": pa.timestamp("us")}


def _model_table(entity, rows):
    cols = {}
    for c, t in gen.COLS[entity]:
        vals = [r[c] for r in rows]
        if t in "dt":  # ISO text; a timestamp's trailing Z says UTC
            vals = [v if v is None else v.rstrip("Z") for v in vals]
            cols[c] = pa.array(vals, pa.string()).cast(_ARROW[t])
        else:
            cols[c] = pa.array(vals, _ARROW[t])
    return pa.table(cols)


def _canon(c, t):
    """A type-free text form of column ``c``, the same for every reader."""
    if t == "t":
        return f"CAST(epoch_us({c}) AS VARCHAR)"
    if t == "d":
        return f"CAST(CAST({c} AS DATE) AS VARCHAR)"
    return f"CAST({c} AS VARCHAR)"


def _profile(con, entity, relation):
    cols = gen.COLS[entity]
    sums = ", ".join(f"sum(hash(coalesce({_canon(c, t)}, '<null>')))" for c, t in cols)
    row = con.sql(f"SELECT count(*), count(DISTINCT {gen.KEYS[entity]}), {sums} "
                  f"FROM {relation}").fetchone()
    return row[0], row[1], dict(zip((c for c, _ in cols), row[2:]))


def _load(path, entity):
    """A table as written: a parquet directory, or JSON lines from JDBC
    with timestamps as epoch microseconds."""
    if not path.endswith(".jsonl"):
        return f"SELECT * FROM '{path}/*.parquet'"
    types = {"s": "VARCHAR", "l": "BIGINT", "b": "BOOLEAN", "d": "DATE", "t": "BIGINT"}
    cols = ", ".join(f"'{c.lower()}': '{types[t]}'" for c, t in gen.COLS[entity])
    sel = ", ".join(f"make_timestamp({c.lower()}) AS {c}" if t == "t" else
                    f"{c.lower()} AS {c}" for c, t in gen.COLS[entity])
    return (f"SELECT {sel} FROM read_json('{path}', format='newline_delimited', "
            f"columns={{{cols}}})")


def tables(paths, model, corrupt):
    """Compare every written table (…/r<i>/<entity>) with the model."""
    errors = []
    con = duckdb.connect()
    expected = {}
    for i, path in enumerate(paths):
        entity = path.rsplit("/", 1)[1].split(".")[0]
        if entity not in expected:
            mt = _model_table(entity, gen.final_rows(entity, model["per_day"][entity]))
            con.register(f"model_{entity}", mt)
            expected[entity] = _profile(con, entity, f"model_{entity}")
        con.sql(f"CREATE OR REPLACE TABLE t AS {_load(path, entity)}")
        if corrupt and i == 0:
            con.sql("DELETE FROM t WHERE rowid = (SELECT min(rowid) FROM t)")
        names = sorted(c.lower() for c in con.sql("SELECT * FROM t").columns)
        want = sorted(c.lower() for c, _ in gen.COLS[entity])
        if names != want:
            errors.append(f"{path}: columns {names} != {want}")
            continue
        n, keys, sums = _profile(con, entity, "t")
        en, ekeys, esums = expected[entity]
        if n != ekeys or keys != ekeys:
            errors.append(f"{path}: {n} rows, {keys} keys; {ekeys} distinct keys were sent")
        bad = [c for c in sums if sums[c] != esums[c]]
        if bad:
            errors.append(f"{path}: column checksums differ from the model: {bad}")
    return errors


def lake_counts(result, model):
    """After each IngestJob call the table holds every key sent so far."""
    errors = []
    for r in result["rounds"]:
        for op in r["ops"]:
            entity, day = op["name"].split("/day")
            want = len(gen.final_rows(entity, model["per_day"][entity], int(day)))
            if int(op["fp"]) != want:
                errors.append(f"{op['name']}: table has {op['fp']} rows, want {want}")
    return errors


def pulls(result, model):
    errors = []
    if result["unknown_requests"]:
        errors.append(f"{result['unknown_requests']} requests for unknown pages")
    for p in result["pulls"]:
        want = model["expected"][(p["entity"], p["day"])]
        got = p["ok"]
        if sorted(got) != sorted(want) or any(v != 1 for v in got.values()):
            missing = [a for a in want if a not in got]
            extra = [a for a in got if a not in want]
            again = [a for a, v in got.items() if v != 1]
            errors.append(f"pull {p['pull']} {p['entity']} day {p['day'] + 1}: "
                          f"missing {missing[:3]}, unexpected {extra[:3]}, repeated {again[:3]}")
        refused = {a: 1 for a in want if a in model["throttled"]}
        if p["refused"] != refused:
            errors.append(f"pull {p['pull']}: 429s {p['refused']} != {refused}")
    return errors


def run(kind, result, model, corrupt=False):
    if kind == "queries":
        return queries(result, model, corrupt)
    errors = tables(result["tables"], model, corrupt)
    if kind == "lake":
        errors += lake_counts(result, model)
    else:
        errors += pulls(result, model)
    return errors
