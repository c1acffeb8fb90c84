"""Seeded input generators for the benchmark workloads.

    python3 perfbench/gen.py <etl_dag|corpus_crawl> --seed N --out DIR

Each generator writes the input files the program reads plus `truth.json`,
a ground-truth sidecar the benchmark checks the program's outputs against.
The program only ever receives the input files. The same seed gives
byte-identical files.
"""
import argparse
import datetime
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# ── etl_dag ──────────────────────────────────────────────────────────────

ETL_SALES_ROWS = 100_000
ETL_PRODUCTS = 10_000


def gen_etl_dag(seed, out):
    """Sales CSV + products JSON array for `Pipeline.run`, with planted
    dirty rows and a known set of critical defects.

    Clean sales rows have unique (product_id, date) keys by construction,
    so every duplicate key, orphan and out-of-range value is a planted one.
    """
    rng = random.Random(seed)
    n_valid = ETL_PRODUCTS
    pids = [f"P{i:06d}" for i in range(n_valid)]
    products = []
    for pid in pids:
        products.append({"product_id": pid,
                         "product_name": f"item {rng.randrange(10**6)}",
                         "price": round(rng.uniform(1.0, 500.0), 2)})
    zero_price = rng.randrange(n_valid)
    products[zero_price]["price"] = 0.0
    # planted product defects
    n_exact_dup = 7 + rng.randrange(5)        # exact duplicate records: dropped
    n_null_name = 5 + rng.randrange(5)        # null names: dropped
    n_null_price = 4 + rng.randrange(4)       # null prices: dropped
    n_dup_id = 3 + rng.randrange(3)           # same id, other name: kept (B7)
    extra = [dict(products[rng.randrange(n_valid)]) for _ in range(n_exact_dup)]
    extra += [{"product_id": f"N{i:06d}", "product_name": None, "price": 9.99}
              for i in range(n_null_name)]
    extra += [{"product_id": f"Q{i:06d}", "product_name": "no price", "price": None}
              for i in range(n_null_price)]
    dup_ids = rng.sample(range(n_valid), n_dup_id)
    extra += [{"product_id": pids[i], "product_name": f"alias {i}", "price": 3.5}
              for i in dup_ids]
    records = products + extra
    rng.shuffle(records)
    kept_products = n_valid + n_dup_id

    base = datetime.date(2023, 1, 1)
    n_clean = ETL_SALES_ROWS
    rows = []
    for i in range(n_clean):
        pid = pids[(i * 7919) % n_valid]
        day = base + datetime.timedelta(days=i // n_valid)
        rows.append([day.isoformat(), f"S{rng.randrange(40):02d}", pid,
                     str(rng.randrange(1, 20)), f"{rng.uniform(1.0, 900.0):.2f}"])
    n_bad_date = 50 + rng.randrange(50)        # dropped
    n_bad_units = 50 + rng.randrange(50)       # dropped
    n_dup_key = 10 + rng.randrange(10)         # kept, B7 critical
    n_orphan = 10 + rng.randrange(10)          # kept, B8 critical
    n_neg_amount = 3 + rng.randrange(3)        # kept, B1 critical
    dirty = []
    for k in range(n_bad_date):
        r = list(rows[rng.randrange(n_clean)])
        r[0] = rng.choice(["not-a-date", "2023-13-40", "31/31/2023"])
        dirty.append(r)
    for k in range(n_bad_units):
        r = list(rows[rng.randrange(n_clean)])
        r[3] = rng.choice(["abc", "12x", "n/a"])
        dirty.append(r)
    dup_src = rng.sample(range(n_clean), n_dup_key)
    for i in dup_src:
        r = list(rows[i])
        r[1] = "S99"
        dirty.append(r)
    for k in range(n_orphan):
        r = list(rows[rng.randrange(n_clean)])
        r[2] = f"X{k:06d}"
        dirty.append(r)
    neg_amounts = [-round(rng.uniform(1.0, 50.0), 2) for _ in range(n_neg_amount)]
    for a in neg_amounts:
        r = list(rows[rng.randrange(n_clean)])
        r[2] = f"X{10**5 + len(dirty):06d}"  # fresh key: no extra duplicate
        r[4] = f"{a:.2f}"
        dirty.append(r)
    neg_units = -(1 + rng.randrange(9))
    r = list(rows[rng.randrange(n_clean)])
    r[2] = f"X{10**5 + len(dirty):06d}"
    r[3] = str(neg_units)
    dirty.append(r)
    rows.extend(dirty)
    rng.shuffle(rows)
    kept_sales = n_clean + n_dup_key + n_orphan + n_neg_amount + 1
    orphans = n_orphan + n_neg_amount + 1

    sales_path = os.path.join(out, "store_sales.csv")
    with open(sales_path, "w", newline="\n") as f:
        f.write("date,store_id,product_id,units_sold,sales_amount\n")
        for r in rows:
            f.write(",".join(r) + "\n")
    products_path = os.path.join(out, "products.json")
    with open(products_path, "w") as f:
        json.dump(records, f, separators=(",", ":"))

    def res(check, table, passed, detail=None):
        return {"check": check, "table": table, "passed": passed, "detail": detail}

    checks = [
        res("not_empty", "store_sales", True, f"rows={kept_sales}"),
        res("not_empty", "products", True, f"rows={kept_products}"),
        res("row_count", "store_sales", True,
            f"actual={kept_sales} expected={kept_sales}"),
        res("row_count", "products", True,
            f"actual={kept_products} expected={kept_products}"),
    ] + [res(f"null_{c}", "store_sales", True, "nulls=0")
         for c in ["date", "product_id", "units_sold", "sales_amount"]] + [
        res(f"null_{c}", "products", True, "nulls=0")
        for c in ["product_id", "product_name", "price"]] + [
        res("no_duplicate_keys", "store_sales", False),
        res("no_duplicate_keys", "products", False),
        res("referential_integrity", "store_sales", False, f"orphans={orphans}"),
        res("range_sales_amount", "store_sales", False,
            f"min={min(neg_amounts)!r} (must be >= 0)"),
        res("range_units_sold", "store_sales", False,
            f"min={float(neg_units)!r} (must be >= 0)"),
        res("range_price", "products", False, "min=0.0 (must be > 0)"),
    ]
    truth = {
        "workload": "etl_dag", "seed": seed,
        "sales_rows_read": len(rows), "product_records_read": len(records),
        "input_records": len(rows) + len(records),
        "input_bytes": os.path.getsize(sales_path) + os.path.getsize(products_path),
        "kept": {"store_sales": kept_sales, "products": kept_products},
        "checks": checks,
    }
    return truth


# ── corpus_crawl ─────────────────────────────────────────────────────────

# The sf document vocabulary, plus English stopwords so the language and
# Gopher gates see running text.
SF_VOCAB = ("spark window merge table column vector stream value data small join "
            "filter big group hash customer sort order slow line part fast row "
            "the agg key query a scan batch").split()
STOPWORDS = ("the and of to in that it is was for with this on as at by from "
             "be have not are".split())
CORPUS_DOCS = 2_000
FOOTER = "copyright footer all rights reserved"


def _pseudo_words(rng, n):
    cons, vows = "bcdfghklmnprstvw", "aeiou"
    words = set()
    while len(words) < n:
        k = rng.randrange(2, 4)
        words.add("".join(rng.choice(cons) + rng.choice(vows) for _ in range(k))
                  + rng.choice(["", "s", "n", "r", "ed", "ing"]))
    return sorted(words)


def gen_corpus_crawl(seed, out):
    """HTML-wrapped crawl corpus for `CorpusPipeline.prepare` with planted
    exact duplicates, 2-token-edit near duplicates, a shared footer line,
    too-short pages and a 1-in-500 benchmark sample."""
    rng = random.Random(seed)
    extra = _pseudo_words(rng, 4000)

    def word():
        u = rng.random()
        if u < 0.35:
            return rng.choice(STOPWORDS)
        if u < 0.6:
            return rng.choice(SF_VOCAB)
        return rng.choice(extra)

    def body(n):
        return [word() for _ in range(n)]

    n = CORPUS_DOCS
    docs = []  # (tokens, footer)
    for _ in range(n):
        docs.append((body(rng.randrange(70, 160)), rng.random() < 0.5))
    ids = list(range(n))
    rng.shuffle(ids)
    n_short = n // 40
    n_exact_groups = n // 40
    n_near_groups = n // 25
    n_bench = max(2, n // 500)
    cursor = 0

    def take(k):
        nonlocal cursor
        s = ids[cursor:cursor + k]
        cursor += k
        return s

    short = take(n_short)
    for i in short:  # < 50 words: fails the Gopher word-count rule
        docs[i] = (body(rng.randrange(20, 40)), docs[i][1])
    exact_bases = take(n_exact_groups)
    near_bases = take(n_near_groups)
    bench = take(n_bench)

    out_docs = [(i, docs[i][0], docs[i][1]) for i in range(n)]
    next_id = n
    exact_groups, near_groups = [], []
    for b in exact_bases:
        g = [b]
        for _ in range(1 + rng.randrange(2)):
            out_docs.append((next_id, list(docs[b][0]), docs[b][1]))
            g.append(next_id)
            next_id += 1
        exact_groups.append(g)
    for b in near_bases:
        g = [b]
        for _ in range(1 + rng.randrange(3)):
            toks = list(docs[b][0])
            for _ in range(2):  # two token edits
                toks[rng.randrange(len(toks))] = rng.choice(extra)
            out_docs.append((next_id, toks, rng.random() < 0.5))
            g.append(next_id)
            next_id += 1
        near_groups.append(g)
    rng.shuffle(out_docs)

    def html(toks, footer):
        text = " ".join(toks) + (("\n" + FOOTER) if footer else "")
        return ("<html><head><title>page</title><script>var t = 1;</script>"
                "</head><body><div class=\"nav\">home</div><p class=\"d\">"
                + text + "</p><!-- boilerplate --></body></html>")

    table = pa.table({
        "doc_id": pa.array([d[0] for d in out_docs], pa.int64()),
        "text": pa.array([html(d[1], d[2]) for d in out_docs], pa.string()),
    })
    pq.write_table(table, os.path.join(out, "corpus.parquet"))
    bench_table = pa.table({
        "doc_id": pa.array([10**7 + i for i in bench], pa.int64()),
        "text": pa.array([" ".join(docs[i][0]) for i in bench], pa.string()),
    })
    pq.write_table(bench_table, os.path.join(out, "benchmark.parquet"))

    n_input = len(out_docs)
    quality = n_input - n_short
    exact = quality - sum(len(g) - 1 for g in exact_groups)
    near = exact - sum(len(g) - 1 for g in near_groups)
    truth = {
        "workload": "corpus_crawl", "seed": seed,
        "input_records": n_input,
        "kept": {"input": n_input, "quality": quality, "exact_dedup": exact,
                 "line_dedup": exact, "near_dedup": near,
                 "decontaminated": near - n_bench},
        "exact_groups": exact_groups, "near_groups": near_groups,
        "benchmark_ids": sorted(bench), "short_ids": sorted(short),
    }
    return truth


GENERATORS = {"etl_dag": gen_etl_dag, "corpus_crawl": gen_corpus_crawl}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    truth = GENERATORS[workload](seed, out)
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True, indent=1)
    return truth


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("workload", choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)


if __name__ == "__main__":
    main()
