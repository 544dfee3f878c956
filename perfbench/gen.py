"""Seeded input generator for the benchmark's workloads.

Everything the engine reads is written here, before the run, from the
workload seed alone: the same seed gives byte-identical inputs. Table
schemas and value domains mirror the fixture tables described in
FIXTURES.md (TPC-H-ish star schema plus events, documents, embeddings),
so every registered query and its DuckDB oracle run unchanged on them.
"""
import csv
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
ADJ = ["blue", "old", "large", "hot", "cold", "small", "new", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVTYPES = ["view", "click", "signup", "purchase", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMB_DIM = 64

# ingest_pipeline batch shape: every property the screen, cleaning and
# upsert stages depend on is a stated constant, recorded in provenance
BATCH_ORDERS = 60           # new orders per batch (1-7 lines each)
BATCH_UPDATES = 0.2         # share of a batch's lineitem rows re-sending an earlier key
BATCH_DIRTY = 0.05          # share of new orders whose money strings Cleaning dead-letters
BATCH_DOCS = 30
BATCH_EXACT_DUP = 0.1       # share of batch docs that copy an earlier text byte for byte
BATCH_NEAR_DUP = 0.1        # share that append one token to an earlier text
BASE_DOCS = 2000            # corpus the persisted dedup index starts from
N_BATCHES = 60              # more than a 60-second run ingests

SERVE_DOCS = 5000           # sf0.1 corpus size
SERVE_VECS = 2000
N_PROBES = 600              # 100 cycles
# one cycle of the probe mix: half of it dedup screens, the layer ingest
# shares, between the faster bm25 and the slower vec and report probes, so
# the median of whole cycles is the middle of the screen probes
SERVE_CYCLE = ("bm25", "screen", "vec", "screen", "report", "screen")
REPORT_SF = 0.01            # scale of the tables the report probes read

EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _days(rng, n, lo, hi):
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    d = rng.integers(0, (hi_d - lo_d).astype(int) + 1, n)
    return (lo_d + d).astype("datetime64[us]")


def _texts(rng, n):
    lens = rng.integers(10, 101, n)
    toks = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, i = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[t] for t in toks[i:i + ln]))
        i += ln
    return out


def _docs(rng, n, id0=0, near_share=0.05):
    """Random-token documents; `near_share` of them copy an earlier doc's
    text plus one ' dup' token, the fixtures' near-duplicate shape."""
    text = _texts(rng, n)
    for i in range(1, n):
        if rng.random() < near_share:
            text[i] = text[rng.integers(0, i)] + " dup"
    ids = np.arange(id0, id0 + n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": text,
        "lang": [LANGS[j] for j in rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    }


def _vecs(rng, n):
    v = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v


def _write(path, cols, schema):
    pq.write_table(pa.table(cols, schema=schema), path, row_group_size=1 << 30,
                   compression="snappy")


DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                        ("source", pa.string()), ("n_chars", pa.int64())])
EMB_SCHEMA = pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32())])


def _emb_cols(rng, n):
    v = _vecs(rng, n)
    return {"vec_id": np.arange(n, dtype=np.int64), "embedding": list(v),
            "label": rng.integers(0, 10, n).astype(np.int32)}


def tables(out, seed, sf):
    """The ten fixture tables at scale factor `sf` (sf0.1 = 600k lineitem).
    The engine's own rung generator (ScaleRung) scales the fixture
    directory, which a checkout does not hold, so they are generated here."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_docs, n_vecs = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    _write(f"{out}/region.parquet",
           {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS},
           pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(f"{out}/nation.parquet",
           {"n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
           pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))
    _write(f"{out}/customer.parquet",
           {"c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)]},
           pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                      ("c_acctbal", f64), ("c_mktsegment", s)]))
    _write(f"{out}/supplier.parquet",
           {"s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)},
           pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                      ("s_acctbal", f64)]))
    pk = np.arange(n_part, dtype=np.int64)
    _write(f"{out}/part.parquet",
           {"p_partkey": pk,
            "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                       zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
            "p_type": [PTYPES[j] for j in rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)},
           pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                      ("p_size", i32), ("p_retailprice", f64)]))
    _write(f"{out}/orders.parquet",
           {"o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": [("O", "F", "P")[j] for j in rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": [PRIOS[j] for j in rng.integers(0, 5, n_ord)]},
           pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                      ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]))
    _write(f"{out}/lineitem.parquet",
           {"l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_line)],
            "l_linestatus": [("O", "F")[j] for j in rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")},
           pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                      ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
                      ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
                      ("l_linestatus", s), ("l_shipdate", ts)]))
    span_us = 30 * 86400 * 1000000
    ev_ts = EPOCH + np.sort(rng.integers(0, span_us, n_ev)).astype("timedelta64[us]") \
        + (np.datetime64("2024-01-01T00:00:00", "us") - EPOCH)
    _write(f"{out}/events.parquet",
           {"event_id": np.arange(n_ev, dtype=np.int64), "ts": ev_ts,
            "user_id": rng.integers(0, max(150, int(15000 * sf)), n_ev).astype(np.int64),
            "event_type": [EVTYPES[j] for j in rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_ev)]},
           pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
                      ("value", f64), ("props", s)]))
    _write(f"{out}/documents.parquet", _docs(rng, n_docs), DOC_SCHEMA)
    _write(f"{out}/embeddings.parquet", _emb_cols(rng, n_vecs), EMB_SCHEMA)
    return {"sf": sf, "lineitem_rows": n_line, "orders_rows": n_ord, "events_rows": n_ev,
            "documents_rows": n_docs, "embeddings_rows": n_vecs}


def pipeline(out, seed):
    """Base corpus plus N_BATCHES arriving batches, each three CSV files
    (orders, lineitem, documents) staged under out/batches/NNNN/."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(f"{out}/batches", exist_ok=True)
    base = _docs(rng, BASE_DOCS)
    _write(f"{out}/base_docs.parquet", base, DOC_SCHEMA)
    texts = list(base["text"])           # every text a later batch may copy
    doc_id = 1000000
    clean_key, dirty_key = 1, 97         # Cleaning dead-letters keys % 97 == 0 or % 89 == 0
    live = []                            # (orderkey, linenumber) sent so far
    for b in range(N_BATCHES):
        d = f"{out}/batches/{b:04d}"
        os.makedirs(d, exist_ok=True)
        orders, lines = [], []
        for _ in range(BATCH_ORDERS):
            if rng.random() < BATCH_DIRTY:
                ok, dirty_key = dirty_key, dirty_key + 97
            else:
                while clean_key % 97 == 0 or clean_key % 89 == 0:
                    clean_key += 1
                ok, clean_key = clean_key, clean_key + 1
            day = _days(rng, 1, "1995-01-01", "2001-08-01")[0]
            orders.append([ok, int(rng.integers(0, 15000)), "OFP"[rng.integers(0, 3)],
                           f"{rng.uniform(1000.0, 500000.0):.2f}",
                           _ts(day), PRIOS[rng.integers(0, 5)]])
            for ln in range(1, int(rng.integers(1, 8)) + 1):
                lines.append(_line(rng, ok, ln, day))
        fresh = [(r[0], r[3]) for r in lines]
        n_upd = min(len(live), int(round(len(lines) * BATCH_UPDATES / (1 - BATCH_UPDATES))))
        for j in (rng.choice(len(live), n_upd, replace=False) if n_upd else []):
            ok, ln = live[j]
            lines.append(_line(rng, ok, ln, _days(rng, 1, "1995-01-01", "2001-08-01")[0]))
        live.extend(fresh)
        n_docs = BATCH_DOCS
        docs = _docs(rng, n_docs, id0=doc_id, near_share=0.0)
        doc_id += n_docs
        kinds = rng.random(n_docs)
        for i in range(n_docs):
            if kinds[i] < BATCH_EXACT_DUP:
                docs["text"][i] = texts[rng.integers(0, len(texts))]
            elif kinds[i] < BATCH_EXACT_DUP + BATCH_NEAR_DUP:
                docs["text"][i] = texts[rng.integers(0, len(texts))] + " dup"
        docs["n_chars"] = [len(t) for t in docs["text"]]
        texts.extend(docs["text"])
        _csv(f"{d}/orders.csv", ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                                 "o_orderdate", "o_orderpriority"], orders)
        _csv(f"{d}/lineitem.csv", LINE_COLS, lines)
        _csv(f"{d}/documents.csv", ["doc_id", "text", "lang", "source", "n_chars"],
             zip(docs["doc_id"].tolist(), docs["text"], docs["lang"], docs["source"],
                 docs["n_chars"]))
    return {"base_docs": BASE_DOCS, "batches_staged": N_BATCHES,
            "orders_per_batch": BATCH_ORDERS, "lines_per_order": "1-7 uniform",
            "update_share": BATCH_UPDATES, "dirty_share_of_orders": BATCH_DIRTY,
            "docs_per_batch": BATCH_DOCS, "exact_dup_share": BATCH_EXACT_DUP,
            "near_dup_share": BATCH_NEAR_DUP}


LINE_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
             "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
             "l_shipdate"]


def _line(rng, ok, ln, day):
    ship = day + np.timedelta64(int(rng.integers(1, 120)), "D")
    return [ok, int(rng.integers(0, 20000)), int(rng.integers(0, 1000)), ln,
            f"{float(rng.integers(1, 51)):.1f}", f"{rng.uniform(900.0, 105000.0):.2f}",
            f"{rng.integers(0, 11) / 100.0:.2f}", f"{rng.integers(0, 9) / 100.0:.2f}",
            "ANR"[rng.integers(0, 3)], "OF"[rng.integers(0, 2)], _ts(ship)]


def _ts(day):
    return str(day)[:10] + " 00:00:00"


def _csv(path, header, rows):
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)


def serving(out, seed):
    """sf0.1-sized corpus (documents + embeddings), the fixture tables at
    REPORT_SF for the report probes, and a seeded probe mix in cycles of
    SERVE_CYCLE: BM25 top-10 of 1-3 terms, dedup screens of 1-10 docs,
    vector screens of 1-10 vectors, and reports."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out, exist_ok=True)
    tab = tables(f"{out}/tables", seed, REPORT_SF)
    docs = _docs(rng, SERVE_DOCS)
    _write(f"{out}/documents.parquet", docs, DOC_SCHEMA)
    emb = _emb_cols(rng, SERVE_VECS)
    _write(f"{out}/embeddings.parquet", emb, EMB_SCHEMA)
    vecs = emb["embedding"]
    probes = []
    for i in range(N_PROBES):
        kind = SERVE_CYCLE[i % len(SERVE_CYCLE)]
        n = int(rng.integers(1, 11))
        if kind == "bm25":
            terms = rng.choice(len(VOCAB), int(rng.integers(1, 4)), replace=False)
            probes.append({"kind": kind, "terms": [VOCAB[t] for t in terms]})
        elif kind == "report":
            probes.append({"kind": kind})
        elif kind == "screen":
            items = []
            for j in range(n):
                r = rng.random()
                src = docs["text"][rng.integers(0, SERVE_DOCS)]
                text = src if r < 0.3 else src + " dup" if r < 0.6 else _texts(rng, 1)[0]
                items.append({"doc_id": 10000000 + i * 16 + j, "text": text})
            probes.append({"kind": kind, "docs": items})
        else:
            items = []
            for j in range(n):
                r = rng.random()
                src = vecs[rng.integers(0, SERVE_VECS)]
                v = src if r < 0.3 else src * np.float32(2.0) if r < 0.6 else _vecs(rng, 1)[0]
                items.append({"vec_id": 10000000 + i * 16 + j,
                              "embedding": [float(x) for x in v]})
            probes.append({"kind": kind, "vecs": items})
    with open(f"{out}/probes.json", "w") as f:
        json.dump(probes, f)
    return {"corpus_docs": SERVE_DOCS, "corpus_vecs": SERVE_VECS, "distinct_tokens": len(VOCAB),
            "probe_mix": f"cycles of {', '.join(SERVE_CYCLE)}: bm25 top-10 (1-3 terms), "
                         "dedup screen (1-10 docs: 30% exact copy, 30% near copy, 40% fresh), "
                         "vector screen (1-10 vecs: 30% exact copy, 30% 2x-scaled copy, "
                         "40% fresh), report (first registered query of each analytics "
                         "module into the noop sink)",
            "report_tables": tab}
