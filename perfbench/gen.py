"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, output directory): the
same seed writes byte-identical files. Each returns `(props, truth)`:
`props` is what the artifact records about the inputs (rows, bytes and
the properties the ops depend on); `truth` is what the output checks
compare against and never reaches the program.
"""
import csv
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- shared -----------------------------------------------------------

# The star schema's documented shape (FIXTURES.md §B) at sf0.1; the
# library workload scales the row counts by WAREHOUSE_SCALE.
SF01_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
             "orders": 150000, "lineitem": 600000}
WAREHOUSE_SCALE = 0.025

# The documents vocabulary of the star-schema corpus: 28 content words
# plus the stop words "the" and "a", so the curation gates (quality,
# repetition) cut the corpus at the same places they do on sf0.1.
VOCAB = ["spark", "window", "merge", "table", "column", "vector",
         "stream", "value", "data", "small", "join", "filter", "big",
         "group", "hash", "customer", "sort", "order", "slow", "line",
         "part", "fast", "row", "the", "agg", "key", "query", "a",
         "scan", "batch"]
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]


def _write(table, path):
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def _ts(days_from, n_days, rng, n):
    base = np.datetime64(days_from, "D")
    return (base + rng.integers(0, n_days, n).astype("timedelta64[D]")
            ).astype("datetime64[us]")


def _grams(toks, k=4):
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def _planted_base(rng, bench_grams, missing=4, length=70):
    """A document every curation gate keeps: 70 tokens (quality),
    every word of VOCAB but `missing` present (repetition), at least
    six stop words, and no 4-gram shared with the decontamination
    slice. The missing words are what its copies substitute in, so each
    copy has its own token set and survives exact dedup."""
    while True:
        words = list(rng.permutation(VOCAB))
        absent = [w for w in words if w not in ("the", "a")][:missing]
        present = [w for w in words if w not in absent]
        toks = present + ["the", "a"] * 3 + list(
            rng.choice(present, length - len(present) - 6))
        toks = [str(t) for t in rng.permutation(toks)]
        if not _grams(toks) & bench_grams:
            return toks, absent


def _documents(rng, n, n_clusters, hot_share, hot_phrases):
    """Random documents over VOCAB, with planted near-duplicate clusters
    and a few hot 3-word phrases. Documents whose id is a multiple of 50
    (the decontamination benchmark slice) get neither.

    Each planted cluster is a base document and one copy with one token
    substituted; both pass every curation gate, so every seed feeds the
    near-dup stage the same number of pairs."""
    vocab = np.array(VOCAB)
    toks = [[str(w) for w in vocab[rng.integers(0, len(VOCAB), int(k))]]
            for k in rng.integers(10, 101, n)]
    bench = set().union(*(_grams(toks[i]) for i in range(0, n, 50)))
    eligible = np.array([i for i in range(n) if i % 50 != 0])
    ids = [int(i) for i in rng.permutation(eligible)]
    clusters = [sorted(ids[2 * c:2 * c + 2]) for c in range(n_clusters)]
    for members in clusters:
        base, absent = _planted_base(rng, bench)
        toks[members[0]] = base
        for m, word in zip(members[1:], absent):
            while True:
                copy = list(base)
                pos = int(rng.integers(0, len(copy)))
                if copy[pos] in ("the", "a"):
                    continue
                copy[pos] = word
                if not _grams(copy) & bench:
                    break
            toks[m] = copy
    planted = {m for c in clusters for m in c}
    # hot phrases: each inserted into hot_share of the other documents
    others = np.array([i for i in eligible if int(i) not in planted])
    hot_docs = set()
    for phrase in hot_phrases:
        for d in rng.choice(others, int(hot_share * n), replace=False):
            pos = int(rng.integers(0, len(toks[d]) + 1))
            toks[d][pos:pos] = phrase.split(" ")
            hot_docs.add(int(d))
    return [" ".join(t) for t in toks], clusters, len(hot_docs)


def _documents_table(rng, n, n_clusters, hot_share, hot_phrases):
    texts, clusters, n_hot = _documents(rng, n, n_clusters, hot_share,
                                        hot_phrases)
    lang = rng.choice(LANGS, n, p=LANG_P)
    lang[[m for c in clusters for m in c]] = "en"
    table = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": lang,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    return table, clusters, n_hot


def _embeddings_table(rng, n, dim=64):
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32)})


def _events_table(rng, n):
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.sort(np.datetime64("2024-01-01T00:00:00", "us")
                      + rng.integers(0, 30 * 86400 * 10**6, n)
                      .astype("timedelta64[us]")),
        "user_id": rng.integers(0, max(n // 60, 10), n).astype(np.int64),
        "event_type": rng.choice(["signup", "click", "error", "view",
                                  "purchase"], n),
        "value": np.round(rng.uniform(0, 560, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def _star_tables(rng, scale):
    n = {k: max(int(v * scale), 10) for k, v in SF01_ROWS.items()}
    t = {}
    t["region"] = pa.table({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], nc)})
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)})
    npart = n["part"]
    adj = np.array(["small", "new", "large", "hot", "cold", "red", "blue",
                    "old"])
    noun = np.array(["widget", "gizmo", "bolt", "plate", "rod", "anvil",
                     "ring", "gear"])
    t["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": np.char.add(np.char.add(rng.choice(adj, npart), " "),
                              rng.choice(noun, npart)),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "PROMO",
                              "SMALL", "MEDIUM"], npart),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1,
                                  2)})
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _ts("1995-01-01", 2404, rng, no),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)})
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts("1995-01-02", 2498, rng, nl)})
    return t


def _write_tables(tables, out):
    rows, size = {}, 0
    for name, table in tables.items():
        size += _write(table, os.path.join(out, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows, size


# --- workloads ----------------------------------------------------------

def library(seed, out, n_docs=1000, n_vecs=800):
    """A documents + embeddings corpus with planted near-dup pairs and
    hot phrases, beside a star schema at WAREHOUSE_SCALE of sf0.1."""
    rng = np.random.default_rng([seed, 1])
    tables = _star_tables(rng, WAREHOUSE_SCALE)
    tables["events"] = _events_table(rng, 1000)
    hot = ["the spark data", "hash join key"]
    tables["documents"], clusters, n_hot = _documents_table(
        rng, n_docs, n_clusters=n_docs // 100, hot_share=0.22,
        hot_phrases=hot)
    tables["embeddings"] = _embeddings_table(rng, n_vecs)
    rows, size = _write_tables(tables, out)
    lines_per_order = np.bincount(
        tables["lineitem"].column("l_orderkey").to_numpy())
    planted = sum(len(c) for c in clusters)
    props = {"rows": rows, "bytes": size,
             "star_schema_scale_of_sf0.1": WAREHOUSE_SCALE,
             "near_dup_share": round(planted / n_docs, 4),
             "near_dup_pairs": len(clusters),
             "hot_phrases": hot, "hot_phrase_share_each": 0.22,
             "hot_shingle_share": round(n_hot / n_docs, 4),
             "key_skew": {
                 "lineitem_lines_per_order_max": int(lines_per_order.max()),
                 "lineitem_lines_per_order_mean":
                     round(float(lines_per_order.mean()), 3),
                 "j9_hot_key_share": 0.9}}
    return props, {"clusters": clusters}


REGIONS = ["서울특별시", "부산광역시", "대구광역시", "대전광역시", "광주광역시",
           "울산광역시", "세종특별자치시", "경기도", "강원도", "충청북도",
           "충청남도", "전라북도", "전라남도", "경상북도", "경상남도",
           "제주특별자치도"]
SUPPLY = ["국민임대", "공공임대(50년)", "공공임대(10년)", "공공임대(분납)",
          "영구임대", "임대상가", "장기전세", "행복주택", "공공분양",
          "공공임대(5년)"]
ELIGIBILITY = [chr(ord("A") + i) for i in range(15)]
HEADER = ["단지코드", "총세대수", "임대건물구분", "지역", "공급유형", "전용면적",
          "전용면적별세대수", "공가수", "자격유형", "임대보증금", "임대료",
          "도보 10분거리 내 지하철역 수(환승노선 수 반영)",
          "도보 10분거리 내 버스정류장 수", "단지내주차면수", "등록차량수"]
# unit areas (m²); none rounds to the 090 band, as in the reference
AREAS = [14.5, 16.9, 21.8, 26.4, 29.9, 33.5, 36.8, 39.7, 44.9, 46.9,
         51.0, 55.9, 59.8, 64.4, 74.9, 79.9, 84.0, 98.6, 101.3]


def _complexes(rng, codes, train, all_na_code=None):
    """Rows of one parking CSV. Complex-level columns are constant within
    a complex; rents carry "" and "-" sentinels, never on a complex's
    first row, so exactly one complex (all_na_code) has no priced unit."""
    rows, households, sentinels = [], {}, {"": 0, "-": 0}
    for code in codes:
        total = int(rng.integers(50, 2500))
        region = REGIONS[int(rng.integers(0, len(REGIONS)))]
        vacant = float(rng.integers(0, 50))
        subway = "" if rng.random() < 0.07 else float(rng.integers(0, 4))
        bus = "" if rng.random() < 0.01 else float(rng.integers(0, 20))
        slots = float(round(total * rng.uniform(0.3, 1.2)))
        cars = float(round(slots * rng.uniform(0.5, 1.1)))
        mixed = rng.random() < 0.1
        n_rows = int(rng.integers(1, 14))
        households[code] = 0
        for r in range(n_rows):
            kind = "상가" if mixed and r % 3 == 2 else "아파트"
            units = int(rng.integers(1, 300))
            households[code] += units
            rents = []
            for scale in (1e4, 1e2):
                u = rng.random()
                if code == all_na_code:
                    v = "" if r % 2 == 0 else "-"
                elif r > 0 and u < 0.19:
                    v = ""
                elif r > 0 and u < 0.195:
                    v = "-"
                else:
                    v = str(int(rng.integers(50, 5000)) * int(scale))
                if v in sentinels:
                    sentinels[v] += 1
                rents.append(v)
            elig = ELIGIBILITY[int(rng.integers(0, 15))]
            if not train and rng.random() < 0.002:
                elig = ""
            row = [code, total, kind, region,
                   SUPPLY[int(rng.integers(0, len(SUPPLY)))],
                   AREAS[int(rng.integers(0, len(AREAS)))], units, vacant,
                   elig, rents[0], rents[1], subway, bus, slots]
            if train:
                row.append(cars)
            rows.append(row)
    return rows, households, sentinels


def _write_csv(path, header, rows):
    with open(path, "w", encoding="utf-8", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)
    return os.path.getsize(path)


def parking(seed, out, n_train=423, n_test=150):
    """The reference's three CSVs at the reference's size."""
    rng = np.random.default_rng([seed, 3])
    # key stride: train and test codes interleave like the reference's
    train_codes = [f"C{1000 + 2 * i:05d}" for i in range(n_train)]
    test_codes = [f"C{1001 + 2 * i:05d}" for i in range(n_test)]
    all_na = train_codes[int(rng.integers(0, n_train))]
    train, households, s_train = _complexes(rng, train_codes, True, all_na)
    test, _, s_test = _complexes(rng, test_codes, False)
    size = _write_csv(os.path.join(out, "train.csv"), HEADER, train)
    size += _write_csv(os.path.join(out, "test.csv"), HEADER[:-1], test)
    ages = [f"{a}({g})" for a in ["10대미만"] + [f"{d}0대" for d in
                                               range(1, 11)]
            for g in ("여자", "남자")]
    ag = [[r] + [round(float(x), 6) for x in rng.uniform(0, 0.1, len(ages))]
          for r in REGIONS]
    size += _write_csv(os.path.join(out, "age_gender_info.csv"),
                       ["지역"] + ages, ag)
    props = {"rows": {"train": len(train), "test": len(test),
                      "age_gender_info": len(ag)},
             "bytes": size,
             "complexes": {"train": n_train, "test": n_test},
             "sentinels": {"train_empty": s_train[""],
                           "train_dash": s_train["-"],
                           "test_empty": s_test[""],
                           "test_dash": s_test["-"]},
             "test_empty_eligibility":
                 sum(1 for r in test if r[8] == ""),
             "all_na_rent_complex": all_na,
             "area_band_090_rows": 0}
    truth = {"train_codes": train_codes, "test_codes": test_codes,
             "households": households, "all_na": all_na}
    return props, truth


GENERATORS = {"parking": parking, "library": library}
