#!/usr/bin/env python3
"""Seeded input generators for the benchmark.

Two generators, each a pure function of its seed:

* ``tables``: the TPC-H-ish star schema plus ``events``, ``documents`` and
  ``embeddings``, with the schemas and value ranges of the engine's test
  tables (one parquet file per table, naive microsecond timestamps).
* ``eav``: a REDCap EAV export with its field map, calc-variable table,
  secondary-id map and INI config, covering the FIXTURES.md section 1
  cases, plus ``expected.json``: what a correct ETL run must produce.

Usage: python3 gen.py tables SEED OUT SF | python3 gen.py eav SEED OUT RECORDS
"""
import datetime as dt
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
US_PER_DAY = 86_400_000_000


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + rng.integers(0, n_days, n) * US_PER_DAY, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, sf, out):
    """Write the ten engine tables at scale factor ``sf`` under ``out``."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs, n_vec = max(15, int(15_000 * sf)), int(50_000 * sf), max(500, int(20_000 * sf))
    i32 = lambda a: pa.array(a, pa.int32())
    _write(pa.table({"r_regionkey": i32(range(5)), "r_name": REGIONS}), f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": i32(range(25)),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": i32([i % 5 for i in range(25)])}), f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}), f"{out}/supplier.parquet")
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    _write(pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)}), f"{out}/part.parquet")
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]}), f"{out}/orders.parquet")
    _write(pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, "1995-01-01", 2499, n_line)}), f"{out}/lineitem.parquet")
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    _write(pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0.01, 330, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}), f"{out}/events.parquet")
    # documents: 10-100 words from a 30-word vocabulary; 5% are an earlier
    # document plus " dup" (near-duplicates), a few are exact copies
    lengths = rng.integers(10, 101, n_docs)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for n in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + n]))
        pos += n
    kind = rng.random(n_docs)
    src = rng.integers(0, max(1, n_docs), n_docs)
    for i in range(1, n_docs):
        j = int(src[i] % i)
        if kind[i] < 0.05:
            texts[i] = texts[j] + " dup"
        elif kind[i] < 0.052:
            texts[i] = texts[j]
    _write(pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}), f"{out}/documents.parquet")
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.8, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": i32(labels)}), f"{out}/embeddings.parquet")


# --------------------------------------------------------------------- EAV
EVENTS = ["screening_arm_1", "biopsy_arm_1", "followup_arm_1"]
GRANULARITY = {"TransformDateYear": "%Y", "TransformDate": "%Y-%m-%d",
               "TransformDateTime": "%Y-%m-%d %H:%M",
               "TransformDateTimeSeconds": "%Y-%m-%d %H:%M:%S"}
CALC_COLUMNS = ["np_gender", "exp_age_decade", "exp_race", "mh_diabetes_yn",
                "exp_diabetes_duration", "mh_ht_yn", "exp_ht_duration", "exp_disease_type"]


def _field_map():
    """(field_name, status, restrict_to_event_list) rows; 46 mapped fields."""
    rows = [("np_dob", "Exclude", "")]
    for status in GRANULARITY:
        rows += [(f"{status.lower()}_{k}", status, "") for k in range(3)]
    rows += [(f"lab_{k}", "Include", "") for k in range(20)]
    rows += [(f"screen_{k}", "Include", "screening_arm_1") for k in range(4)]
    rows += [(f"phi_{k}", "Exclude", "") for k in range(6)]
    rows += [("note_blank", "", "")]
    rows += [("intake_complete", "Include", ""), ("biopsy_complete", "", "")]
    return rows


def eav(seed, n_records, out):
    """Write the ETL inputs for ``n_records`` participants under ``out``."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    fmap = _field_map()
    status = {f: s for f, s, _ in fmap}
    ids = [f"{1000 + 7 * k + seed % 7}" for k in range(n_records)]
    bad = set(rng.choice(n_records, max(1, n_records // 50), replace=False).tolist())
    dup_dob = set(rng.choice(n_records, max(1, n_records // 40), replace=False).tolist())
    rows, expect_kept = [], {}
    date_fields = [f for f, s, _ in fmap if s in GRANULARITY]

    def add(rid, event, field, value, kept):
        rows.append((rid, event, "", "", field, value))
        if kept:
            key = "dag" if field == "redcap_data_access_group" else (
                "complete" if field.endswith("_complete") else status[field])
            expect_kept[key] = expect_kept.get(key, 0) + 1

    for k, rid in enumerate(ids):
        dob = dt.datetime(1940, 1, 1) + dt.timedelta(days=int(rng.integers(0, 25_000)))
        add(rid, EVENTS[0], "np_dob", dob.strftime("%Y-%m-%d"), False)
        if k in dup_dob:
            earlier = dob - dt.timedelta(days=int(rng.integers(1, 400)))
            add(rid, EVENTS[0], "np_dob", earlier.strftime("%Y-%m-%d"), False)
        add(rid, EVENTS[0], "redcap_data_access_group", f"site_{k % 5}", True)
        for j, f in enumerate(date_fields):
            when = dob + dt.timedelta(days=int(rng.integers(6_000, 25_000)),
                                      seconds=int(rng.integers(0, 86_400)))
            if k in bad and j == 0:
                add(rid, EVENTS[1], f, "not-a-date", False)
            else:
                add(rid, EVENTS[1], f, when.strftime(GRANULARITY[status[f]]), True)
        for j in range(20):
            add(rid, EVENTS[k % 3], f"lab_{j}", str(int(rng.integers(0, 1000))), True)
        for j in range(4):
            for ev in EVENTS[:2]:
                add(rid, ev, f"screen_{j}", str(int(rng.integers(0, 9))), ev == EVENTS[0])
        for j in range(6):
            add(rid, EVENTS[0], f"phi_{j}", f"secret {rid} {j}", False)
        add(rid, EVENTS[0], "note_blank", "free text", False)
        add(rid, EVENTS[0], "unmapped_field", "not in the field map", False)
        add(rid, EVENTS[0], "intake_complete", "2", True)
        add(rid, EVENTS[1], "biopsy_complete", "1", True)

    with open(f"{out}/records.csv", "w") as f:
        f.write("record_id,redcap_event_name,redcap_repeat_instrument,"
                "redcap_repeat_instance,field_name,value\n")
        f.writelines(",".join(r) + "\n" for r in rows)
    with open(f"{out}/fieldmap.csv", "w") as f:
        f.write("field_name,status,restrict_to_event_list\n")
        f.writelines(f"{a},{b},{c}\n" for a, b, c in fmap)
    # calc variables: 90% of participants plus 5% unknown ids; empty cells
    in_calc = [rid for rid in ids if rng.random() < 0.9]
    extra = [f"x{k}" for k in range(max(1, n_records // 20))]
    with open(f"{out}/deid.csv", "w") as f:
        f.write("study_id," + ",".join(CALC_COLUMNS) + "\n")
        for rid in in_calc + extra:
            cells = ["" if rng.random() < 0.1 else str(int(rng.integers(0, 9)))
                     for _ in CALC_COLUMNS]
            f.write(rid + "," + ",".join(cells) + "\n")
    mapped = [rid for rid in ids if rng.random() < 0.8]
    with open(f"{out}/secondary.csv", "w") as f:
        f.write("redcap_record_id,secondary_id\n")
        f.writelines(f"{rid},S-{rid}\n" for rid in mapped)
    with open(f"{out}/config.ini", "w") as f:
        f.write(f"""[default]
field_map_file = {out}/fieldmap.csv
out_dir = {out}/out
[dcc_transforms]
datetransform_type = dob_shifting
standard_date = 2010-01-01
dob_shift_inplace = true
deid_data_file = {out}/deid.csv
secondary_id_file = {out}/secondary.csv
[redcap]
eav_source = {out}/records.csv
chunk_size = 100
project_id = {seed % 9000 + 1000}
project_type = benchmark
[datalake]
chunk_rows = 50000
""")
    expected = {
        "input_rows": len(rows),
        "records": n_records,
        "kept_by_status": expect_kept,
        "kept_rows": sum(expect_kept.values()),
        "date_errors": len(bad),
        "calc_records": len(in_calc) * len(CALC_COLUMNS),
        "secondary_records": n_records,
        "project_id": str(seed % 9000 + 1000),
    }
    with open(f"{out}/expected.json", "w") as f:
        json.dump(expected, f, sort_keys=True)
    return expected


def main(argv):
    kind, seed, out = argv[0], int(argv[1]), argv[2]
    if kind == "tables":
        tables(seed, float(argv[3]), out)
    elif kind == "eav":
        eav(seed, int(argv[3]), out)
    else:
        raise SystemExit(f"unknown generator {kind}")


if __name__ == "__main__":
    main(sys.argv[1:])
