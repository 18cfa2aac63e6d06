#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny size.

    python3 perfbench/selftest.py          # all checks (builds, runs one JVM)
    python3 perfbench/selftest.py --quick  # generator checks only, no JVM

Checks:
1. generator determinism: the same seed stages byte-identical inputs and the
   same plan; another seed does not;
2. planted-count arithmetic: the plan's expected rule counts and silver and
   gold row counts are re-derived here from the staged files alone, by
   applying the silver cleansing rules (FIXTURES.md sections 1-5) in Python;
3. (JVM) a traced medallion run at a tiny size passes every check, which
   includes the traced gold decomposition matching a shadow
   ``Medallion.updateGoldLayerDelta`` publish after every refresh.
Exits non-zero on the first failure.
"""
import csv
import filecmp
import json
import os
import re
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

TINY = {"banks": 40, "credit_unions": 40, "states": 4, "quarters": 3, "reads": 12}


def fail(msg):
    print(f"selftest FAILED: {msg}")
    sys.exit(1)


def plan(seed, root):
    return gen.medallion_plan(seed, TINY["banks"], TINY["credit_unions"],
                              TINY["states"], TINY["quarters"], root, TINY["reads"])


def strip_dirs(p):
    return [{k: v for k, v in q.items() if k != "dir"} for q in p]


def check_determinism(tmp):
    a, b, c = (plan(7, f"{tmp}/a"), plan(7, f"{tmp}/b"), plan(8, f"{tmp}/c"))
    if strip_dirs(a) != strip_dirs(b):
        fail("same seed, different plans")
    for k in range(TINY["quarters"]):
        for f in os.listdir(f"{tmp}/a/q{k:02d}"):
            if not filecmp.cmp(f"{tmp}/a/q{k:02d}/{f}", f"{tmp}/b/q{k:02d}/{f}", shallow=False):
                fail(f"same seed, different staged file q{k:02d}/{f}")
    if strip_dirs(a) == strip_dirs(c):
        fail("different seeds, same plan")
    t1, t2 = gen.corpus_tables(7, 200, 50), gen.corpus_tables(7, 200, 50)
    if any(not t1[n].equals(t2[n]) for n in t1):
        fail("same seed, different corpus")
    if gen.corpus_tables(8, 200, 50)["documents"].equals(t1["documents"]):
        fail("different seeds, same corpus")
    print("ok  generator determinism")


def rederive(root):
    """Expected counts from the staged files alone (quarters accumulate)."""
    mdy, ymd = re.compile(r"^\d{1,2}/\d{1,2}/\d{4}$"), re.compile(r"^\d{8}$")
    cyc = re.compile(r"^\d{1,2}/\d{1,2}/\d{4} 0:00:00$")
    rules = dict.fromkeys(gen.RULES, 0)
    inst, fin = {}, {}  # active cert -> has website; (cert, quarter) -> date ok
    cu_rows = {}  # (cu, quarter) -> (survives cleansing, has website)
    out = []
    for k in range(TINY["quarters"]):
        d = f"{root}/q{k:02d}"
        for line in open(f"{d}/inst.json"):
            r = json.loads(line)["data"]
            if r["ACTIVE"] != "1":
                rules["inactive"] += 1
                continue
            if not mdy.match(r["REPDTE"]):
                rules["inst_bad_date"] += 1
            inst[r["CERT"]] = bool(r.get("WEBADDR"))
        for line in open(f"{d}/fin.json"):
            r = json.loads(line)["data"]
            if not ymd.match(r["REPDTE"]):
                rules["fin_bad_date"] += 1
            fin[(r["CERT"], k)] = bool(ymd.match(r["REPDTE"]))

        def rows(name):
            return {r["CU_NUMBER"]: r for r in csv.DictReader(open(f"{d}/{name}"))}
        foicu, fs220, fs220d = rows("FOICU.txt"), rows("FS220.txt"), rows("FS220D.txt")
        for cu, r in foicu.items():
            known = r["STATE"] != gen.UNKNOWN_STATE
            rules["unknown_state"] += not known
            ok = [bool(cyc.match(x[cu]["CYCLE_DATE"])) for x in (foicu, fs220, fs220d)]
            for rule, good in zip(("foicu_bad_date", "fs220_bad_date", "fs220d_bad_date"), ok):
                rules[rule] += not good
            cu_rows[(cu, k)] = (known and all(ok), bool(fs220d[cu]["Acct_891"]))
        banks = {(c, q) for (c, q), ok in fin.items() if ok and c in inst}
        cus = {(c, q) for (c, q), v in cu_rows.items() if v[0]}
        np_ = {"bank": sum(not inst[c] for c, _ in banks),
               "credit union": sum(not cu_rows[(c, q)][1] for c, q in cus)}
        ids = [{("b", c) for c, q in banks if q == j} | {("c", c) for c, q in cus if q == j}
               for j in range(k + 1)]
        out.append({"bronze_rule_rows": dict(rules),
                    "silver_rows": len(banks) + len(cus),
                    "silver_rows_by_type": {"bank": len(banks), "credit union": len(cus)},
                    "silver_not_provided_by_type": np_,
                    "directory": len(set().union(*ids)),
                    "wide": len(set.intersection(*ids))})
    return out


def check_planted_counts(tmp):
    p = plan(11, f"{tmp}/p")
    for k, (q, want) in enumerate(zip(p, rederive(f"{tmp}/p"))):
        e = q["expect"]
        got = {"bronze_rule_rows": e["bronze_rule_rows"], "silver_rows": e["silver_rows"],
               "silver_rows_by_type": e["silver_rows_by_type"],
               "silver_not_provided_by_type": e["silver_not_provided_by_type"],
               "directory": e["gold_rows"]["institution_directory_by_type"],
               "wide": e["gold_rows"]["quarterly_assets_table"]}
        if got != want:
            fail(f"quarter {k}: plan {got} != re-derived {want}")
        if any(v == 0 for v in e["bronze_rule_rows"].values()):
            fail(f"quarter {k}: a cleansing rule has no planted rows")
        if e["gold_rows"]["assets_deposits_by_state"] != e["silver_rows"]:
            fail(f"quarter {k}: assets_deposits_by_state must have one row per silver row")
    print("ok  planted-count arithmetic")


def check_jvm():
    import run
    run.SIZES["medallion_refresh"].update(
        banks=TINY["banks"], credit_unions=TINY["credit_unions"],
        states=TINY["states"], timed=2, warmup_reads=3, reads_per_quarter=TINY["reads"],
        min_reads=5)
    r = run.execute("medallion_refresh", seed=5, seconds=1, trace=1)
    rec = r["record"]
    # a traced run checks the decomposition after every refresh
    if not r["correct"]:
        fail("tiny traced medallion run: " + "; ".join(rec["failures"][:5]))
    print(f"ok  traced gold decomposition == updateGoldLayerDelta "
          f"({rec['attempted']} operations, 0 failed)")


def main():
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=os.path.join(HERE, "target")
                           if os.path.isdir(os.path.join(HERE, "target")) else None)
    try:
        check_determinism(tmp)
        check_planted_counts(tmp)
        if "--quick" not in sys.argv:
            check_jvm()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
