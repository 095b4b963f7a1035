"""Seeded arXiv-shaped input for the ``etl_publications`` workload.

``arxiv_records`` is a pure function of ``seed`` (same seed, same records):
nested publication records (FIXTURES.md A1) with the dirty rows the
reference pipeline's rules act on. The read-only workloads need no
generator: they read the repository's canonical tables, copied under
``testdata/``.
"""

from __future__ import annotations

import datetime as dt

import numpy as np

TITLE_WORDS = ("sparse graph rigidity quantum field lattice spectral random "
               "matrix manifold flow neural kernel boundary operator convex "
               "bound stable code entropy").split()
FIRST = ["Ada", "Ben", "Chen", "Dana", "Eli", "Fatima", "Goran", "Hana",
         "Ivan", "Jia", "Kofi", "Lena", "Mateo", "Nia", "Omar", "Priya"]
LAST = ["Abe", "Brun", "Costa", "Diaz", "Ekström", "Fischer", "Gupta",
        "Horvat", "Ito", "Jensen", "Kumar", "Lopez", "Moreau", "Novak"]
CATEGORIES = ["math.CO", "cs.CG", "cs.AI", "cs.DB", "cs.LG", "stat.ML",
              "hep-th", "quant-ph", "math.AP", "cond-mat.str-el"]
BIBTEX = ["@article", "@inproceedings", "@book", "@thesis", "@phdthesis",
          "@misc", "@techreport", "@online"]
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep",
          "Oct", "Nov", "Dec"]


def arxiv_records(seed: int, n: int) -> list[dict]:
    """``n`` records, record ``i`` with arXiv id ``0704.<i>``; a batch is a
    slice of this list, so two overlapping batches share those records.

    Dirty rows, at fixed shares: NULL doi (~half), a duplicate non-null doi
    (every 97th record reuses its predecessor's doi), a title under two
    characters after trimming, authors that all fail the ``', '`` split
    (orphans), and ``' and '``-joined authors with no comma."""
    rng = np.random.default_rng([seed, 1])
    n_auth = rng.integers(1, 5, n)
    first = rng.integers(0, len(FIRST), (n, 5))
    last = rng.integers(0, len(LAST), (n, 5))
    words = rng.integers(0, len(TITLE_WORDS), (n, 5))
    abstract = rng.integers(0, len(TITLE_WORDS), (n, 60))
    u = rng.random((n, 5))
    n_cat = rng.integers(1, 4, n)
    cat = rng.integers(0, len(CATEGORIES), (n, 3))
    bib = rng.integers(0, len(BIBTEX), n)
    pages = rng.integers(3, 40, n)
    vol = rng.integers(1, 90, n)
    days = rng.integers(0, 5000, n)
    n_ver = rng.integers(1, 5, n)
    out = []
    for i in range(n):
        people = [(FIRST[first[i, k]], LAST[last[i, k]]) for k in range(n_auth[i])]
        if i % 53 == 7:
            authors = ", "                       # every name blank: orphan
        elif i % 11 == 3:
            authors = " and ".join(f"{f} {l}" for f, l in people)
        else:
            authors = ", ".join(f"{f} {l}" for f, l in people)
        if i % 61 == 5:
            title = " x "                        # cleaned out: under 2 chars
        else:
            title = " ".join(TITLE_WORDS[w] for w in words[i]).capitalize() + f" {i}"
            if i % 7 == 0:
                title = title.replace(" ", "\n  ", 1)   # dataset line continuation
        if i % 97 == 1:
            doi = f"10.48550/{i - 1:07d}"         # record i-1's doi, if it has one
        elif u[i, 0] < 0.5:
            doi = None
        else:
            doi = f"10.48550/{i:07d}"
        day = dt.date(2007, 1, 1) + dt.timedelta(days=int(days[i]))
        out.append({
            "id": f"{704 + i // 100_000:04d}.{i % 100_000:05d}",
            "submitter": f"{FIRST[first[i, 4]]} {LAST[last[i, 4]]}",
            "authors": authors,
            "title": title,
            "comments": None if u[i, 1] < 0.17 else f"{BIBTEX[bib[i]]} {pages[i]} pages",
            "journal-ref": None if u[i, 2] < 0.47 else f"J. Synth. {vol[i]} ({day.year})",
            "doi": doi,
            "report-no": None if u[i, 3] < 0.9 else f"RPT-{i}",
            "categories": " ".join(sorted({CATEGORIES[c] for c in cat[i, :n_cat[i]]})),
            "license": None if u[i, 4] < 0.87 else
                       "http://arxiv.org/licenses/nonexclusive-distrib/1.0/",
            "abstract": " ".join(TITLE_WORDS[w] for w in abstract[i]),
            "versions": [{"version": f"v{v + 1}",
                          "created": f"Mon, {day.day:02d} {MONTHS[day.month - 1]} "
                                     f"{day.year} 10:0{v}:00 GMT"}
                         for v in range(n_ver[i])],
            "update_date": day.isoformat(),
            "authors_parsed": [[l, f, ""] for f, l in people],
        })
    return out
