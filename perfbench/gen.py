"""Seeded input generator for the graft benchmark.

Every input is synthesized here from the seed alone (numpy PCG64 +
pyarrow, single-threaded), so the same seed gives byte-identical
parquet files and a different seed gives different ones. Alongside the
tables each workload directory holds `truth.json`: input sizes, file
digests and the planted facts (drift set, duplicate pairs) that the
output checks compare against.

Layout of one workload directory:
  dq_wide     src/<table>.parquet, tgt/<table>.parquet  (catalog + drifted twin)
  dq_fact     <table>.parquet for the star schema + events
  llm_curate  documents.parquet, embeddings.parquet
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes. They are fixed per workload (only the values depend on
# the seed) and sized so one pass over a workload's operation list
# takes a few seconds on a 4-core machine.
WIDE_TABLES = 4
WIDE_ROWS = (1000, 20000)
WIDE_COLUMNS = 4
FACT = {"customer": 6000, "supplier": 400, "part": 8000, "orders": 60000,
        "events": 40000}
FACT_LINES_PER_ORDER = 4
DOCS = 2000
EMB = 1000
EMB_DIM = 64
EMB_PER_CENTER = 12
EMB_NOISE = 0.07
EXACT_DUP_SHARE = 0.04
NEAR_DUP_SHARE = 0.04
PII_SHARE = 0.10
HEADER_SHARE = 0.25
SPAN_SHARE = 0.10

STOPWORDS = ["the", "a", "an", "of", "and", "to", "in", "is", "on", "for", "with"]
LANGS = ["en", "de", "fr", "es", "zh"]
HEADER = "NAV: HOME | ABOUT | CONTACT"
FOOTER = "Subscribe to our newsletter for weekly updates"
SPAN_BOILER = ("this content is provided as is without warranty of any kind "
               "either express or implied by the publisher")
EPOCH_2024_US = 1704067200 * 1_000_000
DAY_US = 86400 * 1_000_000


def _vocab():
    syl = ["ka", "lo", "mi", "ne", "ru", "sa", "te", "vi", "zo", "pa",
           "qu", "de", "fi", "go", "ha", "ju", "xe", "bo", "cy", "wa"]
    words = []
    for a in syl:
        for b in syl:
            for c in ("", "n", "r", "s"):
                words.append(a + b + c)
    return words


VOCAB = np.array(_vocab())


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, row_group_size=1 << 20)


def _nulls(rng, n, share):
    return rng.random(n) < share if share > 0 else np.zeros(n, dtype=bool)


# ----------------------------------------------------------------- dq_wide
WIDE_TYPES = ["int", "bigint", "double", "string_low", "string_high",
              "timestamp", "boolean"]
SPARK_TYPE = {"int": "int", "bigint": "bigint", "double": "double",
              "string_low": "string", "string_high": "string",
              "timestamp": "timestamp_ntz", "boolean": "boolean"}


def _wide_column(rng, kind, n, mask):
    if kind == "int":
        return pa.array(rng.integers(0, 1000, n).astype(np.int32), mask=mask)
    if kind == "bigint":
        return pa.array(rng.integers(0, 1 << 40, n).astype(np.int64), mask=mask)
    if kind == "double":
        return pa.array(np.round(rng.normal(100, 30, n), 2), mask=mask)
    if kind == "string_low":
        return pa.array(np.array(["red", "green", "blue", "cyan"])[rng.integers(0, 4, n)], mask=mask)
    if kind == "string_high":
        return pa.array(np.char.add("v", rng.integers(0, n, n).astype(str)), mask=mask)
    if kind == "timestamp":
        us = EPOCH_2024_US + rng.integers(0, 365, n) * DAY_US
        return pa.array(us, type=pa.timestamp("us"), mask=mask)
    return pa.array(rng.random(n) < 0.5, mask=mask)


def gen_dq_wide(rng, out):
    """A catalog of WIDE_TABLES tables and its drifted target twin. The
    shape (row counts, column types, how many tables and columns drift) is
    fixed; the values, null masks and which tables and columns drift come
    from the seed."""
    n_tables = WIDE_TABLES
    rows = [WIDE_ROWS[0] + (WIDE_ROWS[1] - WIDE_ROWS[0]) * i // (n_tables - 1)
            for i in range(n_tables)]
    order = rng.permutation(n_tables)
    missing = {int(order[0])}
    retyped = {int(t) for t in order[1:3]}
    dropped = {int(order[3])}
    delta = {int(t) for t in order[2:4]}
    tables, drift = {}, {"missing": [], "retyped": [], "dropped": [],
                         "row_delta": [], "target_only": []}
    for i in range(n_tables):
        name = f"t{i:03d}"
        n = rows[i]
        kinds = [WIDE_TYPES[(i + 3 * j) % len(WIDE_TYPES)] for j in range(WIDE_COLUMNS)]
        cols = {"id": pa.array(np.arange(n, dtype=np.int64))}
        for j, kind in enumerate(kinds):
            share = float(rng.choice([0.0, 0.05, 0.3, 1.0], p=[0.4, 0.3, 0.25, 0.05]))
            cols[f"c{j}_{kind}"] = _wide_column(rng, kind, n, _nulls(rng, n, share))
        src = pa.table(cols)
        _write(src, f"{out}/src/{name}.parquet")
        schema = [(c, "bigint" if c == "id" else SPARK_TYPE[c.split("_", 1)[1]])
                  for c in src.column_names]
        tables[name] = {"rows": n, "schema": schema}
        if i in missing:
            drift["missing"].append(name)
            continue
        tgt = src
        tgt_schema = list(schema)
        if i in retyped:
            j = int(rng.integers(1, tgt.num_columns))
            cname = tgt.column_names[j]
            tgt = tgt.set_column(j, cname, tgt.column(j).cast(pa.string()))
            tgt_schema[j] = (cname, "string")
            drift["retyped"].append([name, cname])
        if i in dropped:
            j = int(rng.integers(1, tgt.num_columns))
            drift["dropped"].append([name, tgt.column_names[j]])
            tgt = tgt.remove_column(j)
            del tgt_schema[j]
        if i in delta:
            keep = int(n * (0.85 + 0.1 * rng.random()))
            tgt = tgt.slice(0, keep)
            drift["row_delta"].append([name, keep - n])
        tables[name].update(target_rows=tgt.num_rows, target_schema=tgt_schema)
        _write(tgt, f"{out}/tgt/{name}.parquet")
    n = WIDE_ROWS[0]
    _write(pa.table({"id": pa.array(np.arange(n, dtype=np.int64))}), f"{out}/tgt/x000.parquet")
    drift["target_only"].append("x000")
    tables["x000"] = {"rows": None, "target_rows": n, "target_schema": [("id", "bigint")]}
    total = sum(rows)
    return {"tables": tables, "drift": drift, "input_rows": total,
            "sizes": {"source_tables": n_tables, "target_tables": n_tables,
                      "columns_per_table": WIDE_COLUMNS + 1, "source_rows": total,
                      "drift": {k: len(v) for k, v in drift.items()}}}


# ----------------------------------------------------------------- dq_fact
def _ts_days(rng, n, span_days=3650):
    base = 820454400 * 1_000_000  # 1996-01-01
    return pa.array(base + rng.integers(0, span_days, n) * DAY_US, type=pa.timestamp("us"))


def gen_dq_fact(rng, out):
    n = FACT
    _write(pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int64)),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
           f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(np.arange(25, dtype=np.int64)),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int64))}),
           f"{out}/nation.parquet")
    c = n["customer"]
    _write(pa.table({
        "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, c), 2)),
        "c_mktsegment": pa.array(np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                           "HOUSEHOLD", "MACHINERY"])[rng.integers(0, 5, c)])}),
        f"{out}/customer.parquet")
    s = n["supplier"]
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, s), 2))}),
        f"{out}/supplier.parquet")
    p = n["part"]
    adj = np.array(["large", "hot", "blue", "small", "green", "shiny"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe"])
    _write(pa.table({
        "p_partkey": pa.array(np.arange(p, dtype=np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(adj[rng.integers(0, 6, p)], " "),
                                       noun[rng.integers(0, 5, p)])),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, p).astype(str))),
        "p_type": pa.array(np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD"])[rng.integers(0, 4, p)]),
        "p_size": pa.array(rng.integers(1, 51, p).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + np.arange(p) % 1000 * 0.1, 2))}),
        f"{out}/part.parquet")
    o = n["orders"]
    # ~0.5% of orders reference a customer that does not exist, so the
    # referential checks have violations to find
    custkey = rng.integers(0, c, o)
    custkey[rng.random(o) < 0.005] += c
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
        "o_custkey": pa.array(custkey.astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, o)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 400000, o), 2)),
        "o_orderdate": _ts_days(rng, o),
        "o_orderpriority": pa.array(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                              "5-LOW"])[rng.integers(0, 5, o)])}),
        f"{out}/orders.parquet")
    per = 1 + np.arange(o) % (2 * FACT_LINES_PER_ORDER - 1)
    li = int(per.sum())
    orderkey = np.repeat(np.arange(o, dtype=np.int64), per)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in per]).astype(np.int32)
    orderkey[rng.random(li) < 0.002] += o
    perm = rng.permutation(li)
    _write(pa.table({
        "l_orderkey": pa.array(orderkey[perm]),
        "l_partkey": pa.array(rng.integers(0, p, li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, s, li).astype(np.int64)),
        "l_linenumber": pa.array(linenumber[perm]),
        "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 100000, li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, li)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, li)]),
        "l_shipdate": _ts_days(rng, li)}),
        f"{out}/lineitem.parquet")
    e = n["events"]
    # zipf-skewed user ids so skew_report has hot keys to rank
    users = (rng.zipf(1.3, e) - 1) % 1500
    ts = EPOCH_2024_US + np.sort(rng.integers(0, 30 * DAY_US, e))
    _write(pa.table({
        "event_id": pa.array(np.arange(e, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(users.astype(np.int64)),
        "event_type": pa.array(np.array(["signup", "click", "error", "view", "purchase"])[rng.integers(0, 5, e)]),
        "value": pa.array(np.round(rng.exponential(50, e), 2)),
        "props": pa.array(np.char.add(np.char.add('{"k": ', rng.integers(0, 100, e).astype(str)), "}"))}),
        f"{out}/events.parquet")
    rows = {"region": 5, "nation": 25, "customer": c, "supplier": s, "part": p,
            "orders": o, "lineitem": li, "events": e}
    return {"input_rows": int(sum(rows.values())), "sizes": {"tables": 8, "rows": rows}}


# -------------------------------------------------------------- llm_curate
def _doc_text(rng, lang):
    n = int(rng.integers(20, 100))
    words = VOCAB[rng.integers(0, len(VOCAB), n)]
    if lang == "en":
        stop = rng.random(n) < 0.3
        words = np.where(stop, np.array(STOPWORDS)[rng.integers(0, len(STOPWORDS), n)], words)
    out, sentence = [], []
    for w in words:
        sentence.append(w)
        if len(sentence) >= 12 and rng.random() < 0.2:
            out.append(" ".join(sentence) + ".")
            sentence = []
    if sentence:
        out.append(" ".join(sentence) + ".")
    return " ".join(out)


def _pii(rng, i):
    k = int(rng.integers(0, 4))
    if k == 0:
        return f" contact user{i}@example.org for details"
    if k == 1:
        return f" call +1 555-123-{i % 10000:04d} today"
    if k == 2:
        return f" host 10.{i % 256}.0.12 is up"
    return f" ssn 123-45-{i % 10000:04d} on file"


def gen_llm_curate(rng, out):
    n = DOCS
    # fixed counts of planted copies at seeded positions past the first 100
    slots = 100 + rng.permutation(n - 100)
    n_exact, n_near = round(EXACT_DUP_SHARE * n), round(NEAR_DUP_SHARE * n)
    exact, near = set(slots[:n_exact].tolist()), set(slots[n_exact:n_exact + n_near].tolist())
    texts, langs, pairs_exact, pairs_near = [], [], [], []
    for i in range(n):
        lang = LANGS[int(rng.integers(0, len(LANGS)))] if rng.random() < 0.6 else "en"
        if i in exact:
            j = int(rng.integers(0, i))
            texts.append(texts[j]); langs.append(langs[j])
            pairs_exact.append([j, i])
            continue
        if i in near:
            # a copy of an earlier document of 40+ words with one word changed
            j = int(rng.integers(0, i))
            while len(texts[j].split(" ")) < 40:
                j = int(rng.integers(0, i))
            words = texts[j].split(" ")
            k = int(rng.integers(0, len(words)))
            words[k] = str(VOCAB[int(rng.integers(0, len(VOCAB)))])
            texts.append(" ".join(words)); langs.append(langs[j])
            pairs_near.append([j, i])
            continue
        body = _doc_text(rng, lang)
        if rng.random() < PII_SHARE:
            body += _pii(rng, i)
        if rng.random() < SPAN_SHARE:
            body += " " + SPAN_BOILER + "."
        if rng.random() < HEADER_SHARE:
            body = HEADER + "\n" + body + "\n" + FOOTER
        texts.append(body); langs.append(lang)
    text_arr = pa.array(texts)
    _write(pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": text_arr,
        "lang": pa.array(langs),
        "source": pa.array(np.char.add("src", (np.arange(n) % 20).astype(str))),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))}),
        f"{out}/documents.parquet")
    n_centers = -(-EMB // EMB_PER_CENTER)
    centers = rng.normal(0, 1, (n_centers, EMB_DIM))
    label = rng.permutation(np.arange(EMB) // EMB_PER_CENTER)
    vecs = (centers[label] + rng.normal(0, EMB_NOISE, (EMB, EMB_DIM))).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(EMB, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32))}),
        f"{out}/embeddings.parquet")
    return {"input_rows": n,
            "planted_exact_pairs": pairs_exact, "planted_near_pairs": pairs_near,
            "sizes": {"documents": n, "embeddings": EMB, "dim": EMB_DIM,
                      "exact_dup_share": round(len(pairs_exact) / n, 4),
                      "near_dup_share": round(len(pairs_near) / n, 4)}}


GENERATORS = {"dq_wide": gen_dq_wide, "dq_fact": gen_dq_fact, "llm_curate": gen_llm_curate}


def digest(directory):
    """sha256 over every parquet file under `directory`, in path order."""
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(directory)):
        for f in sorted(files):
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                h.update(os.path.relpath(p, directory).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def generate(workload, seed, out):
    """Generate `workload`'s inputs for `seed` into `out` (once; a
    finished directory is reused) and return its truth record."""
    truth_path = os.path.join(out, "truth.json")
    if os.path.exists(truth_path):
        with open(truth_path) as fh:
            return json.load(fh)
    shutil.rmtree(out, ignore_errors=True)
    rng = np.random.Generator(np.random.PCG64([seed, sorted(GENERATORS).index(workload)]))
    truth = GENERATORS[workload](rng, out)
    truth.update(workload=workload, seed=seed, digest=digest(out),
                 bytes=sum(os.path.getsize(os.path.join(r, f))
                           for r, _, fs in os.walk(out) for f in fs))
    tmp = truth_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(truth, fh)
    os.replace(tmp, truth_path)
    return truth
