"""Seeded input generators for the benchmark.

Two families, both pure functions of (seed, sizes):

* FDIC/NCUA staged inputs for the quarterly medallion refresh, shaped as
  FIXTURES.md sections 1-5: FDIC institutions and financials as
  ``{"data": {...}}`` JSON lines, NCUA FOICU/FS220/FS220D as CSV with a
  header.  Dirty rows are planted at known counts for every silver
  cleansing rule, and :func:`medallion_plan` returns the exact silver and
  gold row counts the pipeline must produce.
* A curation corpus shaped as the harness corpus at scale factor 0.1
  (documents and embeddings) at a chosen size; :data:`SF01` records the
  figures it follows.
"""
import datetime
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STATES = {
    "AL": "Alabama", "AZ": "Arizona", "CA": "California", "CO": "Colorado",
    "FL": "Florida", "GA": "Georgia", "IL": "Illinois", "MA": "Massachusetts",
    "MI": "Michigan", "NC": "North Carolina", "NY": "New York", "OH": "Ohio",
    "PA": "Pennsylvania", "TX": "Texas", "VA": "Virginia", "WA": "Washington",
}
UNKNOWN_STATE = "ZZ"  # not in graft.pipeline.StateMap: silver drops the row
CITIES = ["CHARLOTTE", "vienna", "Austin", "SPRINGFIELD", "dayton", "Reno",
          "fairfax", "Salem", "MADISON", "troy", "Athens", "CLINTON"]
WORDS = ["FIRST", "CITIZENS", "FARMERS", "PEOPLES", "UNION", "SECURITY",
         "COMMUNITY", "HERITAGE", "PIONEER", "SUMMIT", "VALLEY", "LIBERTY"]
FOICU_EXTRA = ["JOIN_NUMBER", "RSSD", "REGION", "SE", "DISTRICT", "ZIP_CODE"]
FS220_FILLER = ["ACCT_025B", "ACCT_041B", "ACCT_083", "ACCT_084", "ACCT_730A"]
BANK_ID0, CU_ID0 = 10000, 50000

# One planted rule per (institution, quarter): the rule sets are disjoint,
# so every planted row costs exactly one silver row (or none, for the
# institution date gate: silver drops that date column before the join).
RULES = ("inactive", "inst_bad_date", "fin_bad_date", "unknown_state",
         "foicu_bad_date", "fs220_bad_date", "fs220d_bad_date")


def quarter_end(k, first_year=2019):
    y, q = first_year + k // 4, k % 4
    m, d = [(3, 31), (6, 30), (9, 30), (12, 31)][q]
    return datetime.date(y, m, d)


def _institutions(seed, n_banks, n_cus, n_states):
    """Stable per-id attributes: the same institution carries the same
    name, city, state and website in every quarter."""
    rng = random.Random(seed * 7919 + 1)
    st = sorted(STATES)[:n_states]

    def website(tag):
        r = rng.random()
        if r < 0.06:
            return None
        if r < 0.12:
            return ""
        return f"www.{tag}{rng.randrange(1000)}.COM"

    inactive = set(rng.sample(range(n_banks), max(1, n_banks // 20)))
    unknown = set(rng.sample(range(n_cus), max(1, n_cus // 25)))
    banks = []
    for i in range(n_banks):
        ab = rng.choice(st)
        banks.append({
            "id": BANK_ID0 + i,
            "name": f"{rng.choice(WORDS)} {rng.choice(WORDS).lower()} bank {i}",
            "city": rng.choice(CITIES), "abbr": ab,
            "stname": STATES[ab] if rng.random() < 0.5 else STATES[ab].upper(),
            "web": website("Bank"),
            "active": i not in inactive,
        })
    cus = []
    for i in range(n_cus):
        cus.append({
            "id": CU_ID0 + i,
            "name": f"{rng.choice(WORDS).lower()} {rng.choice(WORDS)} fcu {i}",
            "city": rng.choice(CITIES),
            "abbr": UNKNOWN_STATE if i in unknown else rng.choice(st),
            "web": website("cu"),
        })
    return banks, cus


def _quarter_rules(seed, k, banks, cus, rate=0.03):
    """Per-quarter planted bad dates, each on a disjoint set of otherwise
    clean institutions."""
    rng = random.Random(seed * 104729 + k)
    clean_banks = [b["id"] for b in banks if b["active"]]
    clean_cus = [c["id"] for c in cus if c["abbr"] != UNKNOWN_STATE]
    rng.shuffle(clean_banks)
    rng.shuffle(clean_cus)
    nb = max(1, int(len(clean_banks) * rate))
    nc = max(1, int(len(clean_cus) * rate))
    return {
        "inst_bad_date": set(clean_banks[:nb]),
        "fin_bad_date": set(clean_banks[nb:2 * nb]),
        "foicu_bad_date": set(clean_cus[:nc]),
        "fs220_bad_date": set(clean_cus[nc:2 * nc]),
        "fs220d_bad_date": set(clean_cus[2 * nc:3 * nc]),
    }


def _csv(path, header, rows):
    def cell(v):
        return "" if v is None else str(v)
    with open(path, "w") as f:
        f.write(",".join(header) + "\n")
        for r in rows:
            f.write(",".join(cell(v) for v in r) + "\n")


def write_quarter(seed, k, banks, cus, out):
    """Stage quarter k's five inputs under ``out``; returns the quarter's
    planted rule sets."""
    os.makedirs(out, exist_ok=True)
    rules = _quarter_rules(seed, k, banks, cus)
    rng = random.Random(seed * 1299709 + k)
    d = quarter_end(k)
    mdy = f"{d.month}/{d.day}/{d.year}"
    iso = d.isoformat()
    ymd = d.strftime("%Y%m%d")
    cycle = f"{d.month}/{d.day:02d}/{d.year} 0:00:00"
    with open(f"{out}/inst.json", "w") as f:
        for b in banks:
            rep = iso if b["id"] in rules["inst_bad_date"] else mdy
            f.write(json.dumps({"data": {
                "ACTIVE": "1" if b["active"] else "0", "CERT": str(b["id"]),
                "CITY": b["city"], "ID": str(b["id"]), "NAME": b["name"],
                "REPDTE": rep, "STNAME": b["stname"], "WEBADDR": b["web"]}}) + "\n")
    with open(f"{out}/fin.json", "w") as f:
        for b in banks:
            rep = iso if b["id"] in rules["fin_bad_date"] else ymd
            asset = rng.randrange(10**6, 10**9)
            f.write(json.dumps({"data": {
                "ASSET": str(asset), "CERT": str(b["id"]),
                "DEP": str(int(asset * rng.uniform(0.6, 0.9))),
                "ID": f"{b['id']}_{ymd}", "REPDTE": rep}}) + "\n")
    bad_cycle = f"{iso} 00:00:00"
    _csv(f"{out}/FOICU.txt",
         ["CU_NUMBER", "CU_NAME", "CITY", "STATE", "CYCLE_DATE"] + FOICU_EXTRA,
         [[c["id"], c["name"], c["city"], c["abbr"],
           bad_cycle if c["id"] in rules["foicu_bad_date"] else cycle]
          + [rng.randrange(1, 10**5) for _ in FOICU_EXTRA] for c in cus])
    # ACCT_010/018 stay above 2^31 so every quarter infers them as long
    # and the appended bronze parquet keeps one schema
    fs220 = []
    for c in cus:
        assets = rng.randrange(3 * 10**9, 9 * 10**10)
        fs220.append([c["id"],
                      bad_cycle if c["id"] in rules["fs220_bad_date"] else cycle,
                      assets, int(assets * rng.uniform(0.6, 0.9)), 0]
                     + [rng.randrange(10**6) for _ in FS220_FILLER])
    _csv(f"{out}/FS220.txt",
         ["CU_NUMBER", "CYCLE_DATE", "ACCT_010", "ACCT_018", "ACCT_671"]
         + FS220_FILLER, fs220)
    _csv(f"{out}/FS220D.txt", ["CU_NUMBER", "CYCLE_DATE", "Acct_891"],
         [[c["id"], bad_cycle if c["id"] in rules["fs220d_bad_date"] else cycle,
           c["web"]] for c in cus])
    return rules


def medallion_plan(seed, n_banks, n_cus, n_states, quarters, root,
                   reads_per_quarter):
    """Stage ``quarters`` quarters of inputs under ``root`` and return the
    plan the JVM harness executes: per quarter, the staged dir, the exact
    expected bronze rule counts, silver and gold row counts, and a seeded
    list of consumer reads with their expected row counts."""
    banks, cus = _institutions(seed, n_banks, n_cus, n_states)
    rng = random.Random(seed * 15485863 + 5)
    cum = {r: 0 for r in RULES}
    cum_web = {"bank": 0, "credit union": 0}
    silver_rows = {"bank": 0, "credit union": 0}
    present_all = None  # institutions with a silver row in every quarter
    ever = set()
    by_state_q = {}  # (year, quarter, state) -> silver rows
    dir_state = {}  # (type, state) -> directory rows
    plan = []
    for k in range(quarters):
        qdir = f"{root}/q{k:02d}"
        rules = write_quarter(seed, k, banks, cus, qdir)
        d = quarter_end(k)
        present = set()
        cum["inactive"] += sum(not b["active"] for b in banks)
        cum["unknown_state"] += sum(c["abbr"] == UNKNOWN_STATE for c in cus)
        for r, ids in rules.items():
            cum[r] += len(ids)
        for b in banks:
            if b["active"] and b["id"] not in rules["fin_bad_date"]:
                present.add(("bank", b["id"], STATES[b["abbr"]]))
                silver_rows["bank"] += 1
                cum_web["bank"] += not b["web"]
        cu_bad = rules["foicu_bad_date"] | rules["fs220_bad_date"] | rules["fs220d_bad_date"]
        for c in cus:
            if c["abbr"] != UNKNOWN_STATE and c["id"] not in cu_bad:
                present.add(("credit union", c["id"], STATES[c["abbr"]]))
                silver_rows["credit union"] += 1
                cum_web["credit union"] += not c["web"]
        for (t, i, s) in present:
            key = (d.year, (d.month - 1) // 3 + 1, s)
            by_state_q[key] = by_state_q.get(key, 0) + 1
            if (t, i) not in ever:
                dir_state[(t, s)] = dir_state.get((t, s), 0) + 1
        ever |= {(t, i) for (t, i, _) in present}
        ids = {(t, i) for (t, i, _) in present}
        present_all = ids if present_all is None else present_all & ids
        total = silver_rows["bank"] + silver_rows["credit union"]
        states = sorted({s for (_, s) in dir_state})
        reads = []
        for _ in range(reads_per_quarter):
            kind = rng.random()
            s = rng.choice(states)
            if kind < 0.4:
                t = rng.choice(["bank", "credit union"])
                if rng.random() < 0.5:
                    reads.append({"table": "institution_directory_by_type",
                                  "filter": {"state": s},
                                  "rows": dir_state.get(("bank", s), 0)
                                  + dir_state.get(("credit union", s), 0)})
                else:
                    reads.append({"table": "institution_directory_by_type",
                                  "filter": {"institution_type": t, "state": s},
                                  "rows": dir_state.get((t, s), 0)})
            elif kind < 0.8:
                kq = rng.randrange(k + 1)
                dq = quarter_end(kq)
                y, q = dq.year, (dq.month - 1) // 3 + 1
                reads.append({"table": "assets_deposits_by_state",
                              "filter": {"year": str(y), "quarter": str(q),
                                         "state": s},
                              "rows": by_state_q.get((y, q, s), 0)})
            else:
                # time travel: the assets table as published after quarter v
                # (Delta versions are 0-based, one per refresh)
                v = rng.randrange(k + 1)
                rows_v = plan[v]["expect"]["silver_rows"] if v < k else total
                reads.append({"table": "assets_deposits_by_state",
                              "version": v, "filter": {}, "rows": rows_v})
        plan.append({
            "quarter": k, "dir": qdir, "date": d.isoformat(),
            "expect": {
                "bronze_rule_rows": dict(cum),
                "silver_rows": total,
                "silver_rows_by_type": dict(silver_rows),
                "silver_not_provided_by_type": dict(cum_web),
                "gold_rows": {
                    "institution_directory_by_type": len(ever),
                    "assets_deposits_by_state": total,
                    "quarterly_assets_table": len(present_all),
                    "quarterly_deposits_table": len(present_all)},
                "gold_versions": k + 1,
            },
            "reads": reads,
        })
    return plan


# ----------------------------------------------------------------- corpus

# Measured on the harness corpus at scale factor 0.1 (5,000 documents, 2,000
# embeddings); the generator reproduces each figure.
#  - text: words drawn uniformly from the 30 words of VOCAB; length uniform
#    in 10..100 words (percentiles 0/25/50/75/100: 10/32/54/76/100);
#  - 5.0% of documents are near-duplicates: another document's text followed
#    by "dup" tokens, 1 token in 98.4% of them, 2 in 1.2%, 3 in 0.4%;
#  - 0.16% of documents are exact copies of another;
#  - lang: en 41%, es/fr/zh 15% each, de 14%; source: src0..src19 in turn;
#  - embeddings: 64-d float32, unit-norm Gaussian directions, label uniform
#    in 0..9.
SF01 = {"near_dup": 0.05, "dup_tokens": ((1, 0.984), (2, 0.012), (3, 0.004)),
        "exact_copy": 0.0016, "min_words": 10, "max_words": 100,
        "langs": (("en", 0.41), ("es", 0.15), ("fr", 0.15), ("zh", 0.15),
                  ("de", 0.14)), "sources": 20, "dim": 64, "labels": 10}
VOCAB = ["join", "hash", "row", "batch", "scan", "column", "customer",
         "filter", "small", "slow", "merge", "order", "vector", "line",
         "table", "data", "agg", "value", "key", "stream", "window", "a",
         "spark", "part", "group", "big", "sort", "query", "fast", "the"]


def corpus_tables(seed, n_docs, n_vecs):
    """The documents and embeddings tables at a chosen size, following SF01."""
    rng = np.random.default_rng(seed)
    dup_n, dup_p = zip(*SF01["dup_tokens"])
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i > 0 and r < SF01["near_dup"]:
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.choice(dup_n, p=dup_p)))
        elif i > 0 and r < SF01["near_dup"] + SF01["exact_copy"]:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n = int(rng.integers(SF01["min_words"], SF01["max_words"] + 1))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n)))
    langs, lang_p = zip(*SF01["langs"])
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(list(rng.choice(langs, n_docs, p=lang_p))),
        "source": pa.array([f"src{i % SF01['sources']}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    v = rng.standard_normal((n_vecs, SF01["dim"]))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, SF01["labels"], n_vecs), pa.int32()),
    })
    return {"documents": docs, "embeddings": emb}


def write_corpus(tables, out):
    os.makedirs(out, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, f"{out}/{name}.parquet")
