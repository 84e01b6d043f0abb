"""Seeded inputs of the benchmark. The program receives only these files.

- qa_csv: an incidents CSV whose columns land on every profiler semantic
  (city / service / date by keyword, numeric, plain string), with about 10%
  of rows repeated verbatim, so duplicate-producing projections take the
  collapse branch.
- qa_ops: a stream of rounds; each round holds every question template once,
  in a seeded order with seeded parameters (so every round has the same mix).
- fleet_tables: the TPC-H-like star schema plus events, documents and
  embeddings, with the column types and value domains of the project's
  testdata tables, at a given scale factor.

No column name contains a SqlValidator.Forbidden substring (INSERT, UPDATE,
DELETE, DROP, ALTER, CREATE, ATTACH, COPY, PRAGMA): the validator's substring
blocklist would reject every question naming such a column.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REF_CITIES = ["Mumbai", "Delhi", "Bangalore", "Chennai", "Kolkata", "Hyderabad",
              "Pune", "Ahmedabad"]
CITIES = REF_CITIES + ["Jaipur", "Surat"]
SERVICES = ["Water", "Power", "Roads", "Waste", "Transit", "Health"]
STATUSES = ["open", "closed", "pending"]
QA_COLUMNS = ["city", "service", "report_date", "severity", "cost", "status"]
# Answers use this clock; "last month" is then September 2026.
NOW = "2026-10-15T12:00:00"
DATE_LO = dt.datetime(2026, 1, 1)
DATE_SPAN_S = int((dt.datetime(2026, 10, 15) - DATE_LO).total_seconds())

# (kind, template); {city} {k} {c} {st} {n} are drawn per round.
TEMPLATES = [
    ("ask", "Which city has the most incidents?"),
    ("ask", "Which service is reported most often?"),
    ("ask", "Which status is most common in {city}?"),
    ("ask", "Show incidents in {city}"),
    ("ask", "What was reported last month?"),
    ("ask", "Which service had incidents in {city} last month?"),
    ("ask", "List all incidents"),
    ("ask", "Which severity levels occurred last month?"),
    ("sql", 'SELECT "service", "cost", "severity" FROM df WHERE "severity" >= {k}'),
    ("sql", 'SELECT "city", "status" FROM df WHERE "severity" = {k}'),
    ("sql", 'SELECT "service" FROM df WHERE "cost" > {c}'),
    ("sql", 'SELECT "service", COUNT(*) AS n, AVG("cost") AS avg_cost, '
            'MAX("severity") AS max_sev FROM df GROUP BY "service"'),
    ("sql", 'SELECT "city", "status", COUNT(*) AS n, SUM("cost") AS total_cost '
            'FROM df WHERE "severity" >= {k} GROUP BY "city", "status"'),
    ("sql", 'SELECT "city", SUM("cost") AS total FROM df GROUP BY "city" '
            'ORDER BY total DESC, "city" LIMIT {n}'),
    ("sql", 'SELECT "report_date", "city", "service", "cost" FROM df WHERE "status" = \'{st}\' '
            'ORDER BY "cost" DESC, "report_date", "city", "service"'),
    ("sql", 'SELECT "city", "service", "severity" FROM df WHERE "cost" < {c} LIMIT {n}'),
]


def qa_csv(path, seed, rows):
    """Write the incidents CSV; returns its path."""
    rng = np.random.default_rng(seed)
    base = rows - rows // 10
    city = rng.choice(CITIES, base, p=[0.13] * 6 + [0.10, 0.08, 0.02, 0.02])
    service = rng.choice(SERVICES, base)
    secs = np.sort(rng.integers(0, DATE_SPAN_S, base))
    stamps = (np.datetime64(DATE_LO, "s") + secs.astype("timedelta64[s]")).astype(str)
    severity = rng.integers(1, 6, base)
    cost = rng.integers(1000, 500000, base) / 100.0
    status = rng.choice(STATUSES, base, p=[0.5, 0.3, 0.2])
    lines = [f"{a},{b},{c},{d},{e:.2f},{f}" for a, b, c, d, e, f in
             zip(city, service, stamps, severity, cost, status)]
    # ~10% resubmitted reports: verbatim copies placed right after the original
    dup_of = np.sort(rng.integers(0, base, rows - base))
    out, j = [], 0
    for i, line in enumerate(lines):
        out.append(line)
        while j < len(dup_of) and dup_of[j] == i:
            out.append(line)
            j += 1
    with open(path, "w") as f:
        f.write(",".join(QA_COLUMNS) + "\n" + "\n".join(out) + "\n")
    return path


def qa_round(rng):
    """One round: every template once, seeded order and parameters;
    (kind, text, template id) each."""
    ops = []
    for tid, (kind, t) in enumerate(TEMPLATES):
        ops.append((kind, t.format(city=rng.choice(REF_CITIES), k=int(rng.integers(2, 6)),
                                   c=int(rng.integers(5, 45)) * 100,
                                   st=rng.choice(STATUSES), n=int(rng.integers(3, 9))),
                    f"t{tid:02d}"))
    order = rng.permutation(len(ops))
    return [ops[i] for i in order]


def qa_ops(path, seed, rounds):
    rng = np.random.default_rng(seed)
    with open(path, "w") as f:
        for _ in range(rounds):
            for kind, text, tid in qa_round(rng):
                f.write(f"{kind}\t{text}\t{tid}\n")
    return len(TEMPLATES)


def churn_files(dirname, listing, seed, count, rows):
    """`count` distinct CSVs, each with one seeded question."""
    rng = np.random.default_rng(seed)
    with open(listing, "w") as f:
        for i in range(count):
            p = qa_csv(os.path.join(dirname, f"upload_{i:03d}.csv"), seed * 1000 + i, rows)
            kind, text, _ = qa_round(rng)[0]
            f.write(f"{p}\t{kind}\t{text}\n")


# --------------------------------------------------------------- fleet tables

ADJ = ["red", "blue", "hot", "cold", "new", "old", "small", "large"]
NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
VOCAB = ("the a fast slow big small key order sort table scan merge part window hash "
         "join batch stream spark dup group query row data filter customer line value "
         "column vector agg").split()


def _ts(days_lo, days_hi, n, rng, unit_s=86400):
    base = np.datetime64("1970-01-01", "us")
    return base + (rng.integers(days_lo, days_hi, n) * unit_s * 1_000_000).astype("timedelta64[us]")


def _days(y, m, d):
    return (dt.date(y, m, d) - dt.date(1970, 1, 1)).days


def _write(dirname, name, cols):
    pq.write_table(pa.table(cols), os.path.join(dirname, f"{name}.parquet"))


def fleet_tables(dirname, seed, sf):
    rng = np.random.default_rng(seed)
    os.makedirs(dirname, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    money = lambda lo, hi, n: rng.integers(int(lo * 100), int(hi * 100), n) / 100.0

    _write(dirname, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s)})
    _write(dirname, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(dirname, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(rng.choice(
            ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"], n_cust), s)})
    _write(dirname, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp), f64)})
    pk = np.arange(n_part)
    _write(dirname, "part", {
        "p_partkey": pa.array(pk, i64),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(rng.choice(ADJ, n_part),
                                                       rng.choice(NOUN, n_part))], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(rng.choice(
            ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10.0, 1), f64)})
    _write(dirname, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["O", "P", "F"], n_ord), s),
        "o_totalprice": pa.array(money(1000, 500000, n_ord), f64),
        "o_orderdate": pa.array(_ts(_days(1995, 1, 1), _days(2001, 8, 2), n_ord, rng),
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord), s)})
    _write(dirname, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float), f64),
        "l_extendedprice": pa.array(money(900, 105000, n_li), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li), s),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_li), s),
        "l_shipdate": pa.array(_ts(_days(1995, 1, 2), _days(2001, 11, 5), n_li, rng),
                               pa.timestamp("us"))})
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_ev)).astype("timedelta64[us]")
    _write(dirname, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(start + offs, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(15, int(15000 * sf)), n_ev), i64),
        "event_type": pa.array(rng.choice(["signup", "click", "error", "view", "purchase"],
                                          n_ev), s),
        "value": pa.array(np.minimum(np.round(rng.gamma(2.0, 50.0, n_ev), 2), 560.21), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.002:      # verbatim copy
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.04:     # near copy: a few words changed
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(8, 90)))))
    _write(dirname, "documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(["en", "es", "zh", "de", "fr"], n_doc,
                                    p=[0.4, 0.15, 0.15, 0.15, 0.15]), s),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.8, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(dirname, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
