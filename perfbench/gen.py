#!/usr/bin/env python3
"""Seeded input generators for the benchmark. Same seed, same bytes.

  gen.py contacts <outDir> <seed> <nIdentities>
      linkedin.csv (with the export preamble), gmail.csv (the header
      Sources.gmail parses: First Name / Last Name / Organization Name)
      and contacts.vcf (vCard 3.0) over one identity population, plus
      truth.csv: (source, source_row_id, identity) for every row.

  gen.py tables <outDir> <seed> <nEvents> <nDocs>
      events.parquet and documents.parquet in the shape of the sf test
      tables (same schema, the same 2024-01-01 .. 2024-01-31 event-time
      span, the same document vocabulary, language mix and 5 % planted
      near-duplicates), plus zero-row copies of the other test tables
      so an oracle can bind every view.
"""
import csv
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIRSTS = ["James", "Mary", "Robert", "Patricia", "Michael", "Linda",
          "William", "Elizabeth", "David", "Susan", "Richard", "Jessica",
          "Joseph", "Sarah", "Thomas", "Karen", "Daniel", "Nancy",
          "Matthew", "Betty", "Anthony", "Helen", "Mark", "Sandra",
          "Steven", "Donna", "Andrew", "Carol", "Paul", "Ruth"]
NICKS = {"Robert": "Bob", "William": "Bill", "Elizabeth": "Liz",
         "James": "Jim", "Joseph": "Joe", "Michael": "Mike",
         "Richard": "Rick", "Matthew": "Matt", "Andrew": "Andy",
         "Steven": "Steve"}
LAST_STEMS = ["Smith", "Johnson", "Williams", "Brown", "Jones", "Garcia",
              "Miller", "Davis", "Rodriguez", "Martinez", "Hernandez",
              "Lopez", "Gonzalez", "Wilson", "Anderson", "Taylor",
              "Moore", "Jackson", "Martin", "Lee", "Perez", "White",
              "Harris", "Clark", "Lewis", "Walker", "Hall", "Young"]
COMPANIES = ["GridGain Systems", "Red Hat Software", "Acme Corp",
             "Initech", "Globex", "Stark Industries", "Wayne Enterprises"]
TITLES = ["Engineer", "Manager", "Director", "Analyst", "Consultant",
          "Architect", "Designer"]
CITIES = ["Braintree", "Quincy", "Weymouth", "Boston", "Cambridge",
          "Albany", "Hartford", "Providence"]
NOTES = ["met at conference", "former colleague", "referral from Ann",
         "college friend", "customer contact"]

# Every (first, stem, two-digit suffix) combination: names stay unique
# per identity, so ground truth is separable by name and channels.
NAME_SPACE = len(FIRSTS) * len(LAST_STEMS) * 97


def identity(j, i):
    first = FIRSTS[j % len(FIRSTS)]
    last = f"{LAST_STEMS[(j // len(FIRSTS)) % len(LAST_STEMS)]}" \
           f"{(j // (len(FIRSTS) * len(LAST_STEMS))) % 97:02d}"
    return dict(first=first, last=last,
                email=f"{first.lower()}.{last.lower()}{i}@example.com",
                phone=f"+1617{2000000 + j % 7000000:07d}",
                company=COMPANIES[j % len(COMPANIES)] if j % 3 else "",
                title=TITLES[j % len(TITLES)],
                city=CITIES[j % len(CITIES)],
                url=f"https://www.linkedin.com/in/{first.lower()}-{last.lower()}-{i}")


def contacts(outdir, seed, n):
    if n > NAME_SPACE:
        raise SystemExit(f"at most {NAME_SPACE} identities")
    rnd = np.random.default_rng(seed)
    names = rnd.permutation(NAME_SPACE)[:n]
    r = rnd.random((n, 6))
    os.makedirs(outdir, exist_ok=True)
    li, gm, vc, truth = [], [], [], []
    for i in range(n):
        p = identity(int(names[i]), i)
        u = r[i]
        in_li, in_gm, in_vc = u[0] < 0.55, 0.30 < u[0] < 0.75, u[0] > 0.60
        if not (in_li or in_gm or in_vc):
            in_gm = True
        if in_li:
            truth.append(("linkedin", len(li), i))
            li.append([p["first"], p["last"], p["url"],
                       p["email"] if u[1] < 0.8 else "",
                       p["company"], p["title"], f"{1 + i % 28} Jan 2023"])
        if in_gm:
            truth.append(("gmail", len(gm), i))
            first = NICKS.get(p["first"], p["first"]) if u[2] < 0.3 else p["first"]
            gm.append([first, p["last"], NICKS.get(p["first"], ""),
                       "* Work" if i % 4 == 0 else "Home",
                       p["email"] if u[3] < 0.8 else "",
                       "Mobile", p["phone"],
                       "Home", f"{100 + i % 899} Main Street", p["city"],
                       "MA", f"{2100 + i % 99:05d}", "US",
                       p["company"], p["title"],
                       NOTES[i % len(NOTES)] if u[4] < 0.25 else ""])
        if in_vc:
            truth.append(("mac_vcf", len(vc), i))
            shown = p["first"].upper() if i % 5 == 0 else p["first"]
            lines = ["BEGIN:VCARD", "VERSION:3.0",
                     f"FN:{shown} {p['last']}",
                     f"N:{p['last']};{p['first']};;;"]
            if p["first"] in NICKS:
                lines.append(f"NICKNAME:{NICKS[p['first']]}")
            if u[5] < 0.8:
                lines.append(f"EMAIL;TYPE=INTERNET;TYPE=WORK:{p['email']}")
            lines.append(f"TEL;TYPE=CELL:{p['phone']}")
            if p["company"]:
                lines.append(f"ORG:{p['company']}")
            if u[4] > 0.85:
                lines.append(f"NOTE:{NOTES[i % len(NOTES)]}")
            lines.append("END:VCARD")
            vc.append("\n".join(lines))

    with open(f"{outdir}/linkedin.csv", "w", newline="") as f:
        f.write("Notes:\n\"When exporting your connection data, you may "
                "notice that some of the email addresses are missing.\"\n\n")
        w = csv.writer(f)
        w.writerow(["First Name", "Last Name", "URL", "Email Address",
                    "Company", "Position", "Connected On"])
        w.writerows(li)
    with open(f"{outdir}/gmail.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["First Name", "Last Name", "Nickname",
                    "E-mail 1 - Label", "E-mail 1 - Value",
                    "Phone 1 - Label", "Phone 1 - Value",
                    "Address 1 - Label", "Address 1 - Street",
                    "Address 1 - City", "Address 1 - Region",
                    "Address 1 - Postal Code", "Address 1 - Country",
                    "Organization Name", "Organization Title", "Notes"])
        w.writerows(gm)
    with open(f"{outdir}/contacts.vcf", "w") as f:
        f.write("\n".join(vc) + "\n")
    with open(f"{outdir}/truth.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["source", "source_row_id", "identity"])
        w.writerows(truth)
    print(f"identities={n} linkedin={len(li)} gmail={len(gm)} vcf={len(vc)}")


VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
SPAN_START_US = 1704067200 * 10**6            # 2024-01-01 00:00:00 UTC
SPAN_US = 30 * 86400 * 10**6                  # 30 days
EMPTY = {
    "region": [("r_regionkey", pa.int32()), ("r_name", pa.string())],
    "nation": [("n_nationkey", pa.int32()), ("n_name", pa.string()),
               ("n_regionkey", pa.int32())],
    "customer": [("c_custkey", pa.int64()), ("c_name", pa.string()),
                 ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                 ("c_mktsegment", pa.string())],
    "supplier": [("s_suppkey", pa.int64()), ("s_name", pa.string()),
                 ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())],
    "part": [("p_partkey", pa.int64()), ("p_name", pa.string()),
             ("p_brand", pa.string()), ("p_type", pa.string()),
             ("p_size", pa.int32()), ("p_retailprice", pa.float64())],
    "orders": [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
               ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
               ("o_orderdate", pa.timestamp("us")),
               ("o_orderpriority", pa.string())],
    "lineitem": [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                 ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                 ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                 ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                 ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                 ("l_shipdate", pa.timestamp("us"))],
    "embeddings": [("vec_id", pa.int64()),
                   ("embedding", pa.list_(pa.float32())), ("label", pa.int32())],
}


def tables(outdir, seed, n_events, n_docs):
    rnd = np.random.default_rng(seed)
    os.makedirs(outdir, exist_ok=True)
    # events: ts uniform over the span, event_id in ts order, ~67 events
    # per user, exponential values with mean 50 at cent precision.
    ts = np.sort(rnd.integers(0, SPAN_US, n_events)) + SPAN_START_US
    n_users = max(1, round(n_events / 66.67))
    events = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rnd.integers(0, n_users, n_events), type=pa.int64()),
        "event_type": pa.array([EVENT_TYPES[k] for k in rnd.integers(0, 5, n_events)]),
        "value": pa.array(np.round(rnd.exponential(50.0, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rnd.integers(0, 100, n_events)]),
    })
    pq.write_table(events, f"{outdir}/events.parquet")
    # documents: 10..100 vocabulary words; 5 % are a copy of another
    # document plus " dup" (near-duplicate pairs for the dedup index).
    texts = [" ".join(VOCAB[w] for w in rnd.integers(0, len(VOCAB), k))
             for k in rnd.integers(10, 101, n_docs)]
    for d in np.flatnonzero(rnd.random(n_docs) < 0.05):
        texts[d] = texts[int(rnd.integers(0, n_docs))] + " dup"
    langs = rnd.choice(len(LANGS), n_docs, p=LANG_P)
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[k] for k in langs]),
        "source": pa.array([f"src{d % 20}" for d in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    pq.write_table(docs, f"{outdir}/documents.parquet")
    for name, fields in EMPTY.items():
        pq.write_table(pa.schema(fields).empty_table(), f"{outdir}/{name}.parquet")
    print(f"events={n_events} users={n_users} documents={n_docs}")


if __name__ == "__main__":
    kind, out, seed = sys.argv[1], sys.argv[2], int(sys.argv[3])
    if kind == "contacts":
        contacts(out, seed, int(sys.argv[4]))
    elif kind == "tables":
        tables(out, seed, int(sys.argv[4]), int(sys.argv[5]))
    else:
        raise SystemExit(f"unknown input kind {kind!r}")
