#!/usr/bin/env python3
"""Deterministic large-corpus generator for the single-node throughput
comparison (reference pandas pipeline vs this engine).

Creates a LinkedIn connections CSV (with export preamble), a Google
Contacts CSV and a vCard 3.0 file describing overlapping slices of one
identity population, with nickname/case/punctuation variation and
shared channels so the dedupe stage has real work to do.

Usage: python3 tools/throughput_gen.py <outDir> <nIdentities> [skewFrac]

With skewFrac (e.g. 0.2), that fraction of identities lands in ONE
surname block ("Smith") — the pathological blocking skew the design
fears — with digit-distinguished first names (identities stay
separable, so merge decisions are unaffected), and every third skewed
vCard also carries a shared call-center line (+16175550000), a junk
match key whose df is in the thousands: uncapped candidate generation
pays O(df^2) pairs there (all rejected by the name-alignment gate),
while `dedupe.match_key_frequency_cap` suppresses the key from
generation without changing any decision.
"""
import csv, random, sys, os

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


def identity(i, rnd, skew=0.0):
    first = FIRSTS[i % len(FIRSTS)]
    last = f"{LAST_STEMS[i % len(LAST_STEMS)]}{i % 97:02d}"
    skewed = skew > 0 and i % max(2, round(1 / skew)) == 0
    if skewed:
        first = f"{first}{i:05d}"
        last = "Smith"
    email = f"{first.lower()}.{last.lower()}{i}@example.com"
    phone = f"+1617555{i % 10000:04d}"
    company = COMPANIES[i % len(COMPANIES)] if i % 3 else ""
    title = TITLES[i % len(TITLES)]
    url = f"https://www.linkedin.com/in/{first.lower()}-{last.lower()}-{i}"
    return dict(first=first, last=last, email=email, phone=phone,
                company=company, title=title, url=url)


def main(outdir, n, skew=0.0):
    rnd = random.Random(42)
    os.makedirs(outdir, exist_ok=True)
    li, gm, vc = [], [], []
    for i in range(n):
        p = identity(i, rnd, skew)
        skewed = skew > 0 and i % max(2, round(1 / skew)) == 0
        r = rnd.random()
        in_li = r < 0.55
        in_gm = 0.30 < r < 0.75
        in_vc = r > 0.60
        if not (in_li or in_gm or in_vc):
            in_gm = True
        if in_li:
            li.append([p["first"], p["last"], p["url"], p["email"],
                       p["company"], p["title"],
                       f"{1 + i % 28} Jan 2023"])
        if in_gm:
            gm_first = NICKS.get(p["first"], p["first"])
            gm.append([gm_first, p["last"],
                       p["email"] if rnd.random() < 0.7 else "",
                       "* Work" if i % 4 == 0 else "Home",
                       p["phone"], "Mobile",
                       f"{100 + i % 899} Main Street",
                       CITIES[i % len(CITIES)], "MA",
                       f"{2100 + i % 99:05d}", "US",
                       p["company"], p["title"]])
        if in_vc:
            nick = NICKS.get(p["first"])
            lines = ["BEGIN:VCARD", "VERSION:3.0",
                     f"FN:{p['first'].upper() if i % 5 == 0 else p['first']} {p['last']}",
                     f"N:{p['last']};{p['first']};;;"]
            if nick:
                lines.append(f"NICKNAME:{nick}")
            if rnd.random() < 0.8:
                lines.append(f"EMAIL;TYPE=INTERNET;TYPE=WORK:{p['email']}")
            lines.append(f"TEL;TYPE=CELL:{p['phone']}")
            if skewed and i % 15 == 0:
                # shared call-center line: a junk match key with df in
                # the thousands inside the skewed surname block
                lines.append("TEL;TYPE=WORK:+16175550000")
            if p["company"]:
                lines.append(f"ORG:{p['company']}")
            lines.append("END:VCARD")
            vc.append("\n".join(lines))

    with open(f"{outdir}/linkedin.csv", "w", newline="") as f:
        f.write("Notes:\n\"When exporting your connection data...\"\n")
        w = csv.writer(f)
        w.writerow(["First Name", "Last Name", "URL", "Email Address",
                    "Company", "Position", "Connected On"])
        w.writerows(li)
    with open(f"{outdir}/gmail.csv", "w", newline="") as f:
        w = csv.writer(f)
        # The Google Contacts export header (the reference parser's and
        # Sources.gmail's column names).
        w.writerow(["First Name", "Last Name",
                    "E-mail 1 - Value", "E-mail 1 - Label",
                    "Phone 1 - Value", "Phone 1 - Label",
                    "Address 1 - Street", "Address 1 - City",
                    "Address 1 - Region", "Address 1 - Postal Code",
                    "Address 1 - Country", "Organization Name",
                    "Organization Title"])
        w.writerows(gm)
    with open(f"{outdir}/contacts.vcf", "w") as f:
        f.write("\n".join(vc) + "\n")
    print(f"identities={n} linkedin={len(li)} gmail={len(gm)} vcf={len(vc)}")


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]),
         float(sys.argv[3]) if len(sys.argv) > 3 else 0.0)
