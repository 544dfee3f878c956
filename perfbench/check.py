"""Output checks, run once per benchmark run outside the timed region.
Each returns a list of problems; an empty list means the outputs are right.

- ingest_pipeline: a repeat ingest adds 0 rows; per batch rows_in = good +
  dead; the final Derby table equals a DuckDB last-write-wins merge of the
  batches ingested (count, decimal sum, status tallies); every doc whose
  md5(text) the index already held is screened `exact`.
- serving_probes: BM25 top-10 of the timed BM25 probes equals a DuckDB BM25
  over the same corpus (q164's formula); byte copies screen `exact` and
  2x-scaled vector copies `near`; every report query's output hash-matches
  its DuckDB oracle on the generated tables, as scripts/check.py does for
  the unit fixtures.
"""
import glob
import hashlib
import json
import math
import os
from decimal import Decimal

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def run(workload, res, inputs):
    """Problems found, and the names of the operations they fail."""
    return {"ingest_pipeline": _ingest,
            "serving_probes": _serving}[workload](res["outputs"], inputs)


def dead_ratio(workload, res):
    """Rows the upsert dead-lettered over rows sent (0 when none sent)."""
    batches = res["outputs"]["batches"] if workload == "ingest_pipeline" else []
    sent = sum(b["upsert_sent"] for b in batches)
    return sum(b["upsert_dead"] for b in batches) / sent if sent else 0.0


def accept_ratio(workload, res):
    """Documents the dedup screen accepted over documents screened. It
    follows the generated duplicate shares, so it is no performance
    figure: it is reported beside the checks, not gated."""
    out = res["outputs"]
    if workload == "ingest_pipeline":
        decs = [d for b in out["batches"] for d in b["decisions"].values()]
    else:
        decs = [d for s in out["screens"] if s["kind"] == "screen" for d in s["decisions"].values()]
    return sum(1 for d in decs if d == "accept") / len(decs) if decs else 0.0


def _ingest(out, inputs):
    problems, bad = [], set()
    if out["repeat_ingest_rows"] != 0:
        problems.append(f"repeat ingestOnce added {out['repeat_ingest_rows']} rows")
    con = duckdb.connect()
    batches = out["batches"]
    seen = set(r[0] for r in con.execute(
        f"SELECT md5(text) FROM read_parquet('{inputs}/base_docs.parquet')").fetchall())
    for b in batches:
        d = f"{inputs}/batches/{b['batch']:04d}"
        rows = con.execute(f"SELECT count(*) FROM read_csv('{d}/lineitem.csv', header=true)").fetchone()[0]
        want_dead = con.execute(
            f"SELECT count(*) FROM read_csv('{d}/lineitem.csv', header=true) "
            "WHERE l_orderkey % 97 = 0 OR l_orderkey % 89 = 0").fetchone()[0]
        if not (b["n_in"] == rows == b["n_good"] + b["n_dead"] and b["n_dead"] == want_dead
                == b["dead_keys"]):
            problems.append(f"batch {b['batch']}: rows {rows}, n_in {b['n_in']}, good "
                            f"{b['n_good']}, dead {b['n_dead']} (want {want_dead})")
            bad.add(b["batch"])
        orders = con.execute(f"SELECT count(*) FROM read_csv('{d}/orders.csv', header=true)").fetchone()[0]
        if b["dates_total"] != orders:
            problems.append(f"batch {b['batch']}: datesRobust saw {b['dates_total']} of {orders} orders")
            bad.add(b["batch"])
        if b["upsert_dead"] != 0:
            problems.append(f"batch {b['batch']}: upsert dead-lettered {b['upsert_dead']} rows")
            bad.add(b["batch"])
        docs = con.execute(f"SELECT doc_id, md5(text) FROM read_csv('{d}/documents.csv', "
                           "header=true, columns={'doc_id': 'BIGINT', 'text': 'VARCHAR', "
                           "'lang': 'VARCHAR', 'source': 'VARCHAR', 'n_chars': 'BIGINT'})").fetchall()
        dec = b["decisions"]
        if len(dec) != len(docs):
            problems.append(f"batch {b['batch']}: {len(dec)} decisions for {len(docs)} docs")
            bad.add(b["batch"])
        for doc_id, h in docs:
            if h in seen and dec.get(str(doc_id)) != "exact":
                problems.append(f"batch {b['batch']}: doc {doc_id} repeats an indexed text "
                                f"but was screened {dec.get(str(doc_id))}")
                bad.add(b["batch"])
        seen.update(h for doc_id, h in docs if dec.get(str(doc_id)) == "accept")
    files = ", ".join(f"'{inputs}/batches/{b['batch']:04d}/lineitem.csv'" for b in batches)
    want = con.execute(f"""
        WITH src AS (
          SELECT *, CAST(regexp_extract(filename, '(\\d+)/lineitem.csv', 1) AS INT) AS b
          FROM read_csv([{files}], header=true, filename=true)
          WHERE NOT (l_orderkey % 97 = 0 OR l_orderkey % 89 = 0)),
        lww AS (
          SELECT * FROM src QUALIFY row_number() OVER
            (PARTITION BY l_orderkey, l_linenumber ORDER BY b DESC) = 1)
        SELECT count(*), CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR),
               (SELECT list(struct_pack(k := l_linestatus, n := c)) FROM
                  (SELECT l_linestatus, count(*) c FROM lww GROUP BY 1)),
               (SELECT list(struct_pack(k := l_returnflag, n := c)) FROM
                  (SELECT l_returnflag, count(*) c FROM lww GROUP BY 1))
        FROM lww""").fetchone()
    got = (out["table_count"], out["table_sum"], out["linestatus"], out["returnflag"])
    want_ls = {x["k"]: x["n"] for x in want[2]}
    want_rf = {x["k"]: x["n"] for x in want[3]}
    if (got[0], Decimal(got[1]), got[2], got[3]) != (want[0], Decimal(want[1]), want_ls, want_rf):
        problems.append(f"Derby table {got} != last-write-wins merge "
                        f"{(want[0], want[1], want_ls, want_rf)}")
        bad.add("derby")
    return problems, sorted(map(str, bad))


def _serving(out, inputs):
    problems, bad = [], set()
    con = duckdb.connect()
    con.execute(f"""
        CREATE TABLE toks AS SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS tok
        FROM read_parquet('{inputs}/documents.parquet');
        CREATE TABLE tfp AS SELECT tok, doc_id, COUNT(*) AS tf FROM toks GROUP BY tok, doc_id;
        CREATE TABLE dict AS SELECT tok, COUNT(*) AS df FROM tfp GROUP BY tok;
        CREATE TABLE dl AS SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id;
        CREATE TABLE stats AS SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl""")
    for p in out["bm25"]:
        terms = ", ".join(f"('{t}')" for t in p["terms"])
        want = con.execute(f"""
            WITH q(tok) AS (VALUES {terms}),
            scored AS (
              SELECT p.doc_id, round(CAST(SUM(CAST(
                  ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) * (p.tf * 2.2) /
                  (p.tf + 1.2 * (0.25 + 0.75 * dl.dl / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))
                AS DECIMAL(38,12))) AS DOUBLE), 6) AS score
              FROM q JOIN dict d ON d.tok = q.tok JOIN tfp p ON p.tok = q.tok
              JOIN dl ON dl.doc_id = p.doc_id CROSS JOIN stats s GROUP BY p.doc_id)
            SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id LIMIT 10""").fetchall()
        got = [(int(d), float(s)) for d, s in p["top"]]
        if got != [(int(d), float(s)) for d, s in want]:
            problems.append(f"bm25 probe {p['probe']} {p['terms']}: {got[:3]}... != {want[:3]}...")
            bad.add(f"probe{p['probe']}")
    problems += _screens(out, inputs, bad)
    problems += _reports(out["reports"], inputs, bad)
    return problems, sorted(bad)


def _screens(out, inputs, bad):
    probes = json.load(open(f"{inputs}/probes.json"))
    con = duckdb.connect()
    texts = set(r[0] for r in con.execute(
        f"SELECT text FROM read_parquet('{inputs}/documents.parquet')").fetchall())
    vecs = set(tuple(r[0]) for r in con.execute(
        f"SELECT embedding FROM read_parquet('{inputs}/embeddings.parquet')").fetchall())
    problems = []
    for s in out["screens"]:
        p = probes[s["probe"]]
        dec = s["decisions"]
        if s["kind"] == "screen":
            for d in p["docs"]:
                if d["text"] in texts and dec.get(str(d["doc_id"])) != "exact":
                    problems.append(f"screen probe {s['probe']}: corpus copy {d['doc_id']} "
                                    f"screened {dec.get(str(d['doc_id']))}")
                    bad.add(f"probe{s['probe']}")
        else:
            for v in p["vecs"]:
                t = tuple(v["embedding"])
                half = tuple(x / 2 for x in t)
                want = "exact" if t in vecs else "near" if half in vecs else None
                if want and dec.get(str(v["vec_id"])) != want:
                    problems.append(f"vec probe {s['probe']}: vector {v['vec_id']} screened "
                                    f"{dec.get(str(v['vec_id']))}, want {want}")
                    bad.add(f"probe{s['probe']}")
    return problems


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return repr(v)


def _reports(out, inputs, bad):
    """Row-set hash match of each report query's Spark output against its
    oracle."""
    problems = []
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/tables/{t}.parquet')")
    for name, why in out["failures"].items():
        problems.append(f"{name} failed: {why[:300]}")
        bad.add(name)
    for name in out["queries"]:
        sql = out["oracles"].get(name)
        if sql is None or name in bad:
            continue
        files = glob.glob(os.path.join(out["check_dir"], name, "*.parquet"))
        try:
            got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
            want = con.execute(sql).fetchdf()
        except Exception as e:  # a missing output or an oracle error is a failure
            problems.append(f"{name}: {e}")
            bad.add(name)
            continue
        cols = sorted(got.columns)
        if cols != sorted(want.columns):
            problems.append(f"{name}: columns {cols} != {sorted(want.columns)}")
            bad.add(name)
            continue
        g = sorted(tuple(map(_norm, r)) for r in got[cols].itertuples(index=False, name=None))
        w = sorted(tuple(map(_norm, r)) for r in want[cols].itertuples(index=False, name=None))
        if _digest(g) != _digest(w):
            problems.append(f"{name}: {len(g)} rows do not match the oracle's {len(w)}")
            bad.add(name)
    return problems


def _digest(rows):
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()
