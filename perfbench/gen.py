"""Seeded input generation for the benchmark.

Two input families, each a pure function of (seed, size), written with
deterministic byte output so the same seed always gives the same files:

- ``biblio``: PubMed (MEDLINE tagged), WOS (tagged) and ScienceDirect text
  exports of one set of works, with the ground truth the pipeline must
  reproduce: which source survives per DOI, and the expected row counts.
- ``tables``: the parquet tables the benchmark's program queries read,
  shaped like the program's shipped synthetic tables: same columns and
  types, same value domains.

Usage: python3 perfbench/gen.py <biblio|tables> <seed> <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- bibliographic exports -------------------------------------------------

BIBLIO_WORKS = 2000          # distinct works; about 2,800 records
MULTI_SOURCE_SHARE = 0.30    # works exported by two or three sources
NO_DOI_SHARE = 0.05          # works without a DOI (never deduplicated)
JOURNALS = 400
SOURCES = ("pubmed", "wos", "sciencedirect")
PRIORITY = {"wos": 3, "pubmed": 2, "sciencedirect": 1}

WORDS = ("cell", "tumor", "protein", "gene", "patient", "cohort", "model",
         "signal", "dose", "trial", "risk", "outcome", "brain", "network",
         "response", "therapy", "clinical", "expression", "mouse", "human",
         "analysis", "data", "effect", "level", "growth", "immune", "factor",
         "study", "sample", "method", "result", "control", "receptor",
         "pathway", "marker", "survival", "imaging", "sequence", "variant",
         "function")
SURNAMES = ("Smith", "Wang", "Garcia", "Muller", "Kim", "Rossi", "Silva",
            "Nguyen", "Ivanova", "Okafor", "Tanaka", "Dubois", "Cohen",
            "Patel", "Larsen", "Novak")
GIVEN = ("Anna", "Ben", "Chen", "Dana", "Eli", "Fatima", "Goran", "Hana",
         "Ivan", "Jia", "Kofi", "Lena", "Marco", "Nora", "Omar", "Priya")


def _words(rng, lo, hi):
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS),
                                                    rng.integers(lo, hi)))


def _wrap(text, width, indent):
    """Split ``text`` over continuation lines indented by ``indent``."""
    words, lines, cur = text.split(), [], ""
    for w in words:
        if cur and len(cur) + 1 + len(w) > width:
            lines.append(cur)
            cur = w
        else:
            cur = f"{cur} {w}" if cur else w
    lines.append(cur)
    return ("\n" + indent).join(lines)


def gen_biblio(seed, out):
    rng = np.random.Generator(np.random.PCG64(seed))
    exports = {s: [] for s in SOURCES}
    truth = {}
    survivors = 0
    survivor_journals = set()
    for w in range(BIBLIO_WORKS):
        has_doi = rng.random() >= NO_DOI_SHARE
        if rng.random() < MULTI_SOURCE_SHARE:
            k = 2 if rng.random() < 0.7 else 3
            srcs = sorted(rng.choice(3, size=k, replace=False).tolist())
        else:
            srcs = [int(rng.integers(0, 3))]
        srcs = [SOURCES[i] for i in srcs]
        journal_id = int(rng.integers(0, JOURNALS))
        journal = f"Journal of {WORDS[journal_id % len(WORDS)].title()} " \
                  f"Research {journal_id // len(WORDS) + 1}"
        year = int(rng.integers(1990, 2025))
        doi = f"10.{1000 + journal_id}/jr{year}.{w:06d}.x{int(rng.integers(0, 99)):02d}"
        title = _words(rng, 6, 14).capitalize()
        abstract = _words(rng, 30, 90).capitalize() + "."
        authors = [(SURNAMES[int(rng.integers(0, len(SURNAMES)))],
                    GIVEN[int(rng.integers(0, len(GIVEN)))])
                   for _ in range(int(rng.integers(1, 5)))]
        keywords = [_words(rng, 1, 3) for _ in range(int(rng.integers(1, 4)))]
        for src in srcs:
            exports[src].append(RENDER[src](
                w, doi if has_doi else None, title, abstract, journal, year,
                authors, keywords))
        if has_doi:
            truth[doi.lower()] = max(srcs, key=PRIORITY.get)
            survivors += 1
            survivor_journals.add(journal_id)
        else:
            survivors += len(srcs)
            survivor_journals.add(journal_id)
    os.makedirs(out, exist_ok=True)
    _write(os.path.join(out, "pubmed.txt"), "\n\n".join(exports["pubmed"]) + "\n")
    _write(os.path.join(out, "wos.txt"),
           "FN Clarivate Analytics Web of Science\nVR 1.0\n" +
           "\n".join(exports["wos"]) + "\nEF\n")
    _write(os.path.join(out, "sciencedirect.txt"),
           "\n\n".join(exports["sciencedirect"]) + "\n")
    _write(os.path.join(out, "truth.tsv"),
           "".join(f"{d}\t{s}\n" for d, s in sorted(truth.items())))
    counts = {f"records_{s}": len(exports[s]) for s in SOURCES}
    counts.update(survivors=survivors, journals=len(survivor_journals),
                  records=sum(len(v) for v in exports.values()))
    _write(os.path.join(out, "counts.txt"),
           "".join(f"{k}={v}\n" for k, v in sorted(counts.items())))


def _pubmed(w, doi, title, abstract, journal, year, authors, keywords):
    lines = [f"PMID- {30000000 + w}",
             "TI  - " + _wrap(title + ".", 70, "      "),
             "AB  - " + _wrap(abstract, 70, "      ")]
    lines += [f"FAU - {s}, {g}" for s, g in authors]
    lines += [f"AU  - {s} {g[0]}" for s, g in authors]
    lines += [f"TA  - {journal}", f"JT  - {journal}", f"DP  - {year} Mar"]
    if doi:
        lines.append(f"AID - {doi} [doi]")
    lines.append(f"AID - S{w:08d}-X [pii]")
    lines += [f"OT  - {k}" for k in keywords]
    return "\n".join(lines)


def _wos(w, doi, title, abstract, journal, year, authors, keywords):
    lines = ["PT J",
             "AU " + "\n   ".join(f"{s}, {g[0]}" for s, g in authors),
             "AF " + "\n   ".join(f"{s}, {g}" for s, g in authors),
             "TI " + _wrap(title, 70, "   "),
             f"SO {journal.upper()}",
             "AB " + _wrap(abstract, 70, "   ")]
    if doi:
        lines.append(f"DI {doi.upper()}")
    lines += [f"PY {year}", f"UT WOS:{w:015d}", "ER", ""]
    return "\n".join(lines)


def _sciencedirect(w, doi, title, abstract, journal, year, authors, keywords):
    lines = [", ".join(f"{s}, {g[0]}." for s, g in authors) + ",",
             title + ",", journal + ",",
             f"Volume {1 + w % 60}, Issue {1 + w % 12},", f"{year},",
             f"Pages {w % 900 + 1}-{w % 900 + 12},"]
    if doi:
        lines.append(f"https://doi.org/{doi}.")
    lines += [f"(https://www.sciencedirect.com/science/article/pii/S{w:016d})",
              "Abstract: " + abstract,
              "Keywords: " + "; ".join(keywords)]
    return "\n".join(lines)


RENDER = {"pubmed": _pubmed, "wos": _wos, "sciencedirect": _sciencedirect}

# ---- parquet tables ----------------------------------------------------------

TABLES_SF = 0.01  # sf0.1 has 600k lineitems; this size has about 60k
EPOCH = np.datetime64("1970-01-01", "D")


def _days(start, end, n, rng):
    lo = (np.datetime64(start, "D") - EPOCH).astype(int)
    hi = (np.datetime64(end, "D") - EPOCH).astype(int)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def gen_tables(seed, out, sf=TABLES_SF):
    """``orders``, ``lineitem`` and ``embeddings``: the tables the
    benchmark's queries read. Customer, part and supplier keys are drawn
    from the ranges those tables have at the same scale."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_emb = int(200_000 * sf), int(1_500_000 * sf), int(20_000 * sf)
    t = {}
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days("1995-01-01", "2001-08-01", n_ord, rng),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    per = rng.integers(1, 8, n_ord)
    n_li = int(per.sum())
    okey = np.repeat(np.arange(n_ord), per)
    starts = np.repeat(np.cumsum(per) - per, per)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days("1995-01-02", "2001-11-04", n_li, rng)})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype("float32")),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    os.makedirs(out, exist_ok=True)
    for name, table in t.items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                       compression="snappy")
    _write(os.path.join(out, "rows.txt"),
           "".join(f"{k}={v.num_rows}\n" for k, v in sorted(t.items())))


def _write(path, text):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(text)


def main(argv):
    if len(argv) != 4 or argv[1] not in ("biblio", "tables"):
        sys.exit(__doc__)
    family, seed, out = argv[1], int(argv[2]), argv[3]
    (gen_biblio if family == "biblio" else gen_tables)(seed, out)


if __name__ == "__main__":
    main(sys.argv)
