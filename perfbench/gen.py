"""Seeded input generator for the benchmark workloads.

Every input file a workload reads is written here, once, from the seed; the
program under test only ever sees these files.  The same seed and workload
give byte-identical files (pinned by tests/test_gen.py).  Alongside the data
each workload gets a ``manifest.json`` holding what was planted (duplicate
counts, typo variants, query ids), which the output checks compare against.

Usage: python3 gen.py --workload fuzzy_link --seed 7 --out DIR
"""

import argparse
import json
import math
import os
import random

WORKLOADS = ("fuzzy_link", "ann_serve")

# Input sizes and planted shares per workload.  BENCHMARK.json and README.md
# state these figures; change them together.
SIZES = {
    "fuzzy_link": {"rows": 3200, "zipf_s": 1.6, "max_multiplicity": 30,
                   "hot_multiplicity": 120, "exact_copy_share": 0.3,
                   "slices": 8, "slice_rows": 80, "lookups": 30},
    "ann_serve": {"vectors": 3000, "dim": 64, "clusters": 16, "sigma": 0.06,
                  "append_slices": 12, "slice_vectors": 100, "queries": 240,
                  "requests_per_append": 8},
}

_SYLLABLES = ("al", "an", "ar", "ber", "bo", "ca", "dor", "el", "en", "fa",
              "gar", "ha", "in", "ka", "kor", "la", "lin", "ma", "mer", "na",
              "nor", "o", "pa", "ri", "ro", "sa", "sel", "ta", "tor", "u",
              "va", "ven", "wi", "xa", "yo", "zen")
_WORDS = ("Holding", "Trading", "Logistics", "Capital", "Energy", "Foods",
          "Systems", "Partners", "Textiles", "Metals", "Pharma", "Maritime",
          "Insurance", "Software", "Chemicals", "Agro", "Retail", "Motors")
_SUFFIXES = ("GmbH", "AG", "Ltd", "SA", "BV", "Inc", "LLC", "SpA", "Oy", "AB",
             "PLC", "SRL", "KG", "NV")
_COUNTRIES = ("DE", "FR", "NL", "IT", "ES", "AT", "BE", "FI", "SE", "PL")
_ALNUM = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
_LOWER = "abcdefghijklmnopqrstuvwxyz"


def company_name(rng):
    word = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4)))
    parts = [word.capitalize()]
    if rng.random() < 0.7:
        parts.append(rng.choice(_WORDS))
    parts.append(rng.choice(_SUFFIXES))
    return " ".join(parts)


def iban(rng):
    return (rng.choice(_COUNTRIES) + "%02d" % rng.randint(10, 99)
            + "".join(rng.choice(_ALNUM) for _ in range(16)))


def unique(rng, make, seen):
    """Draw from ``make(rng)`` until the value is not in ``seen``."""
    while True:
        v = make(rng)
        if v not in seen:
            seen.add(v)
            return v


def typo(rng, name, edits):
    """``name`` with exactly ``edits`` single-character edits applied
    (substitute, insert or delete, never on a space), so the result is within
    Levenshtein distance ``edits`` of the original."""
    s = list(name)
    for _ in range(edits):
        positions = [i for i, c in enumerate(s) if c != " "]
        i = rng.choice(positions)
        op = rng.randrange(3)
        if op == 0:
            s[i] = rng.choice([c for c in _LOWER if c != s[i].lower()])
        elif op == 1:
            s.insert(i, rng.choice(_LOWER))
        elif len(s) > 4:
            del s[i]
        else:
            s[i] = rng.choice([c for c in _LOWER if c != s[i].lower()])
    return "".join(s)


def zipf_multiplicity(rng, s, cap):
    """Draw a multiplicity in 1..cap with P(m) proportional to m**-s."""
    weights = [m ** -s for m in range(1, cap + 1)]
    r = rng.random() * sum(weights)
    for m, w in enumerate(weights, start=1):
        r -= w
        if r <= 0:
            return m
    return cap


def write_csv(path, header, rows):
    with open(path, "w", newline="\n") as f:
        f.write(",".join(header) + "\n")
        for row in rows:
            f.write(",".join(str(v) for v in row) + "\n")


def gen_fuzzy_link(rng, out):
    p = SIZES["fuzzy_link"]
    # Entity multiplicities: one hot entity, then Zipf draws until the fixed
    # row count is reached (the last one clipped), so every seed has the
    # same input size.
    mult = [p["hot_multiplicity"]]
    while sum(mult) < p["rows"]:
        mult.append(min(zipf_multiplicity(rng, p["zipf_s"], p["max_multiplicity"]),
                        p["rows"] - sum(mult)))
    rng.shuffle(mult)
    names = set()
    canon = [unique(rng, company_name, names) for _ in mult]
    records = []        # (name, entity)
    variants = []       # (variant record index, canonical record index)
    n_exact = n_typo = 0
    for e, name in enumerate(canon):
        first = len(records)
        records.append((name, e))
        for _ in range(mult[e] - 1):
            if rng.random() < p["exact_copy_share"]:
                records.append((name, e))
                n_exact += 1
            else:
                records.append((typo(rng, name, rng.randint(1, 2)), e))
                n_typo += 1
            variants.append((len(records) - 1, first))
    order = list(range(len(records)))
    rng.shuffle(order)
    new_id = {old: i + 1 for i, old in enumerate(order)}
    ibans = set()
    acct = [unique(rng, iban, ibans) for _ in canon]
    write_csv(os.path.join(out, "counterparty.csv"), ("id", "name", "iban"),
              ((new_id[old], records[old][0], acct[records[old][1]])
               for old in order))
    canon_id = {records[i][1]: new_id[i] for i in range(len(records) - 1, -1, -1)}
    next_id = len(records) + 1
    slice_variants = []     # per slice: [slice record id, canonical record id]
    for k in range(1, p["slices"] + 1):
        batch, planted = [], []
        for i in range(p["slice_rows"]):
            if rng.random() < 0.7:
                e = rng.randrange(len(canon))
                batch.append((typo(rng, canon[e], rng.randint(1, 2)), acct[e]))
                planted.append([next_id + i, canon_id[e]])
            else:
                batch.append((unique(rng, company_name, names),
                              unique(rng, iban, ibans)))
        write_csv(os.path.join(out, "slice_%d.csv" % k), ("id", "name", "iban"),
                  ((next_id + i, n, a) for i, (n, a) in enumerate(batch)))
        slice_variants.append(planted)
        next_id += len(batch)
    return {"rows": len(records), "entities": len(canon), "slices": p["slices"],
            "lookups": p["lookups"],
            "exact_copies": n_exact, "typo_variants": n_typo,
            "hot_entity_rows": p["hot_multiplicity"],
            "duplicate_share": round((n_exact + n_typo) / len(records), 4),
            "max_dist": 2,
            "variants": sorted([new_id[v], new_id[c]] for v, c in variants),
            "slice_variants": slice_variants}


def gen_ann_serve(rng, out):
    p = SIZES["ann_serve"]
    dim = p["dim"]

    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    centers = [unit([rng.gauss(0, 1) for _ in range(dim)])
               for _ in range(p["clusters"])]

    def vec():
        c = rng.choice(centers)
        return unit([x + rng.gauss(0, p["sigma"]) for x in c])

    total = p["vectors"] + p["append_slices"] * p["slice_vectors"]
    with open(os.path.join(out, "embeddings.csv"), "w") as f:
        f.write("vec_id,slice,emb\n")
        for i in range(total):
            sl = 0 if i < p["vectors"] else 1 + (i - p["vectors"]) // p["slice_vectors"]
            f.write("%d,%d,%s\n" % (i + 1, sl, " ".join(repr(round(x, 6)) for x in vec())))
    queries = [rng.randint(1, p["vectors"]) for _ in range(p["queries"])]
    with open(os.path.join(out, "queries.json"), "w") as f:
        json.dump(queries, f)
    return {"corpus_vectors": p["vectors"], "dim": dim,
            "clusters": p["clusters"], "append_slices": p["append_slices"],
            "slice_vectors": p["slice_vectors"], "queries": len(queries), "k": 5,
            "requests_per_append": p["requests_per_append"]}


GENERATORS = {"fuzzy_link": gen_fuzzy_link, "ann_serve": gen_ann_serve}


def generate(workload, seed, out):
    """Write the workload's inputs and manifest under ``out``; return the
    manifest."""
    os.makedirs(out, exist_ok=True)
    # str seeds hash deterministically (unlike tuples of str under
    # PYTHONHASHSEED), so each workload draws an independent stream.
    rng = random.Random("%s:%d" % (workload, seed))
    manifest = GENERATORS[workload](rng, out)
    manifest.update({"workload": workload, "seed": seed})
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True)
    return manifest


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    m = generate(a.workload, a.seed, a.out)
    print(json.dumps({k: v for k, v in m.items() if "variants" not in k}))


if __name__ == "__main__":
    main()
