#!/usr/bin/env python3
"""Seeded input generator for the graft benchmark.

Every input of every workload is a pure function of (seed, scale); the
program under test only ever sees the files written here.

    python3 perfbench/gen.py --seed 1 --out perfbench/work/inputs [--scale smoke]

Planted content (what the checks and the oracle expect to find):

* batch-verify: a wide table split into several parquet files, with
  planted constraint violations (negative discounts, an out-of-domain
  status code, malformed e-mail addresses, shipped-before-created rows,
  a mostly-null comment column).
* incremental-append: one parquet file per day; day 3 carries a
  row-count jump and day 5 a null spike in `amount`.
* curation: a `documents` corpus (doc_id, text, lang, source, n_chars)
  with per-source footer lines, exact and near duplicates; the curation
  stage list derives the URL variants from doc_id.
"""
import argparse
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCALES = {
    "full": {"wide_rows": 80_000, "wide_files": 4,
             "days": 5, "day_rows": 15_000,
             "docs": 1_000},
    "smoke": {"wide_rows": 4_000, "wide_files": 2,
              "days": 5, "day_rows": 400,
              "docs": 300},
}

# anomalous days of the incremental workload (1-based day index)
JUMP_DAY = 3
NULL_SPIKE_DAY = 5

STATUS = np.array(["O", "F", "P"])
COUNTRIES = np.array(["US", "DE", "FR", "GB", "IN", "BR", "JP", "CN", "CA", "AU",
                      "ES", "IT", "NL", "SE", "PL", "MX", "KR", "ZA", "AR", "NG",
                      "EG", "TR", "ID", "VN", "CH"])
CHANNELS = np.array(["web", "app", "store", "phone", "partner"])
DOMAINS = np.array(["example.com", "mail.test", "corp.example.org", "shop.test"])
CATEGORIES = np.array(["books", "games", "music", "garden", "tools", "toys",
                       "food", "health", "sport", "home", "auto", "pets"])
BASE_TS_US = 1_700_000_000_000_000  # 2023-11-14, microseconds
DAY_US = 86_400_000_000


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _nullable(values, mask):
    return pa.array(values, mask=mask)


def wide_table(rng, n):
    ids = rng.permutation(n).astype(np.int64)
    qty = rng.integers(1, 51, n)
    unit = rng.lognormal(3.0, 0.6, n)
    price = np.round(qty * unit, 2)
    discount = np.round(rng.uniform(0.0, 0.1, n), 4)
    neg = rng.random(n) < 0.0005                       # planted: isNonNegative fails
    discount[neg] = -discount[neg] - 0.01
    status = STATUS[rng.choice(3, n, p=[0.5, 0.4, 0.1])]
    status[rng.random(n) < 0.001] = "X"                 # planted: isContainedIn fails
    cidx = np.minimum(rng.zipf(1.6, n) - 1, len(COUNTRIES) - 1)
    user = rng.integers(0, 10**6, n)
    email = np.char.add(np.char.add("user", user.astype(str)),
                        np.char.add("@", DOMAINS[rng.integers(0, 4, n)]))
    bad = rng.random(n) < 0.005                         # planted: containsEmail fails
    email[bad] = np.char.add("user", user[bad].astype(str))
    created = BASE_TS_US + rng.integers(0, 90 * DAY_US, n)
    shipped = created + rng.integers(0, 10 * DAY_US, n)
    early = rng.random(n) < 0.0002                      # planted: created <= shipped fails
    shipped[early] = created[early] - DAY_US
    words = np.array(["late", "gift", "fragile", "ok", "repeat", "bulk", "rush"])
    comment = np.char.add(words[rng.integers(0, 7, n)], " ")
    comment = np.char.add(comment, words[rng.integers(0, 7, n)])
    return pa.table({
        "id": pa.array(ids),
        "order_id": pa.array(ids // 4 + 1),
        "line_no": pa.array((ids % 4 + 1).astype(np.int32)),
        "customer_id": pa.array(rng.integers(1, max(2, n // 20), n)),
        "qty": _nullable(qty.astype(np.int32), rng.random(n) < 0.01),
        "price": _nullable(price, rng.random(n) < 0.02),
        "discount": pa.array(discount),
        "tax": pa.array(np.round(rng.uniform(0.0, 0.08, n), 4)),
        "status": pa.array(status.astype(object)),
        "country": pa.array(COUNTRIES[cidx].astype(object)),
        "channel": pa.array(CHANNELS[rng.choice(5, n, p=[0.45, 0.3, 0.12, 0.08, 0.05])]
                            .astype(object)),
        "email": pa.array(email.astype(object)),
        "sku": pa.array(np.char.add("SKU-", np.char.zfill(
            rng.integers(0, 100000, n).astype(str), 5)).astype(object)),
        "created_at": _ts(created),
        "shipped_at": pa.array(shipped, type=pa.timestamp("us"),
                               mask=rng.random(n) < 0.03),
        "comment": pa.array(comment.astype(object), mask=rng.random(n) < 0.2),
    })


def day_table(rng, day, rows):
    n = rows * 5 // 2 if day == JUMP_DAY else rows + int(rng.integers(-rows // 20, rows // 20 + 1))
    null_rate = 0.4 if day == NULL_SPIKE_DAY else 0.02
    amount = np.round(rng.gamma(2.0, 30.0, n), 2)
    neg = rng.random(n) < 0.001
    amount[neg] = -amount[neg]
    start = BASE_TS_US + day * DAY_US
    return pa.table({
        "event_id": pa.array(day * 10_000_000 + np.arange(n, dtype=np.int64)),
        "user_id": pa.array(rng.integers(1, 50_001, n)),
        "amount": _nullable(amount, rng.random(n) < null_rate),
        "category": pa.array(CATEGORIES[rng.integers(0, len(CATEGORIES), n)].astype(object)),
        "country": pa.array(COUNTRIES[rng.integers(0, len(COUNTRIES), n)].astype(object)),
        "ts": _ts(start + rng.integers(0, DAY_US, n)),
    })


def corpus(rng, n_docs):
    vocab = np.array(["w%03d" % i for i in range(400)])
    weights = 1.0 / np.arange(1, 401) ** 1.1
    weights /= weights.sum()
    n_sources = 20
    source = rng.integers(0, n_sources, n_docs)
    footers = [["copyright %d src%d media group" % (2020 + s % 5, s),
                "subscribe to the src%d newsletter for daily updates" % s]
               for s in range(n_sources)]
    texts = []
    for d in range(n_docs):
        r = rng.random()
        if d > 10 and r < 0.05:                 # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, d))])
            continue
        if d > 10 and r < 0.10:                 # near duplicate: one word changed
            base = texts[int(rng.integers(0, d))].split(" ")
            base[int(rng.integers(0, len(base)))] = vocab[int(rng.integers(0, 400))]
            texts.append(" ".join(base))
            continue
        lines = [" ".join(rng.choice(vocab, int(rng.integers(6, 15)), p=weights))
                 for _ in range(int(rng.integers(2, 6)))]
        s = int(source[d])
        for f in footers[s]:
            if rng.random() < 0.7:
                lines.append(f)
        if rng.random() < 0.25:
            lines.append("click here to accept cookies")
        texts.append("\n".join(lines))
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(["en"] * n_docs),
        "source": pa.array(["src%d" % s for s in source]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def generate(seed, out, scale="full", workloads=("batch-verify", "incremental-append", "curation")):
    sc = SCALES[scale]
    if os.path.exists(out):
        shutil.rmtree(out)
    manifest = {"seed": seed, "scale": scale}
    if "batch-verify" in workloads:
        rng = np.random.default_rng([seed, 1])
        t = wide_table(rng, sc["wide_rows"])
        d = os.path.join(out, "wide")
        os.makedirs(d)
        step = -(-t.num_rows // sc["wide_files"])
        for i in range(sc["wide_files"]):
            pq.write_table(t.slice(i * step, step), os.path.join(d, "part-%02d.parquet" % i))
        manifest["wide"] = {"path": d, "rows": t.num_rows, "files": sc["wide_files"]}
    if "incremental-append" in workloads:
        rng = np.random.default_rng([seed, 2])
        d = os.path.join(out, "days")
        os.makedirs(d)
        days = []
        for day in range(1, sc["days"] + 1):
            t = day_table(rng, day, sc["day_rows"])
            p = os.path.join(d, "day-%02d.parquet" % day)
            pq.write_table(t, p)
            days.append({"day": day, "path": p, "rows": t.num_rows})
        manifest["days"] = days
        manifest["anomalies"] = {"row_count_jump": JUMP_DAY, "null_spike": NULL_SPIKE_DAY}
    if "curation" in workloads:
        rng = np.random.default_rng([seed, 3])
        t = corpus(rng, sc["docs"])
        d = os.path.join(out, "corpus")
        os.makedirs(d)
        pq.write_table(t, os.path.join(d, "documents.parquet"))
        manifest["corpus"] = {"path": d, "docs": t.num_rows}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--scale", choices=sorted(SCALES), default="full")
    a = ap.parse_args()
    print(json.dumps(generate(a.seed, a.out, a.scale)))


if __name__ == "__main__":
    main()
