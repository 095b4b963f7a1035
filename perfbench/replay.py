"""Plain-Python replay of the publication pipeline's rules.

``expected_counts`` predicts, from the raw records alone, the row count of
every warehouse table ``plans.pipeline.run_pipeline`` produces, its
validation report, the daily re-run's hub size and the number of distinct
publication titles. It shares no code with the program: it re-states the reference's
rules (SURVEY §1.3) —

- NULL-doi passthrough dedup, the smallest arXiv id winning a doi;
- the literal ``', '`` author split, blank names dropped;
- the title-length filter (``length(trim(title)) >= 2``, spaces only);
- orphan removal (publications left with no author);
- per-category top-2 enrichment, one upsert per organic result on title;
- one citation per organic result of every publication title;
- the daily re-run's cross-batch ``ON CONFLICT (doi)``.

``scholar_payload`` is the deterministic stand-in for the scholar API. The
benchmark's fetch stub and this replay both call it.
"""

from __future__ import annotations

import re
import zlib
from collections import Counter, defaultdict

SHARED_DOI = "10.5555/shared-result"


def scholar_payload(key: str) -> dict:
    """Deterministic scholar response for query ``key``: 0-2 organic
    results, some matching the queried title (update path), some new
    (insert path), some with empty ``result_id`` (COALESCE keeps the old
    doi), a few sharing one doi (a duplicate-doi validation finding), and
    summaries with and without the ``'-'`` author delimiter."""
    h = zlib.crc32(key.encode())
    results = []
    for r in range(h % 3):
        title = key.strip() if (r == 0 and h % 5 == 0) else f"Cited {r}: {key}"
        if (h >> 3) % 4 == 0:
            rid = ""
        elif (h >> 5) % 4 == 1:
            rid = SHARED_DOI
        else:
            rid = f"rid-{h:08x}-{r}"
        authors = [] if (h >> 7) % 6 == 0 else [
            {"name": f" Scholar {(h >> 9) % 40} "}, {"name": f"Coauthor {r}"}]
        summary = (f"S {(h >> 9) % 40} - Synthetic Venue, 20{h % 20:02d}"
                   if (h >> 11) % 5 else "no delimiter here")
        results.append({"title": title, "link": f"https://scholar.example/{h:08x}/{r}",
                         "result_id": rid,
                         "publication_info": {"summary": summary, "authors": authors}})
    return {"organic_results": results}


def _results(key: str) -> list[dict]:
    """The fields the pipeline keeps per organic result (``sources.http``)."""
    out = []
    for rank, a in enumerate(scholar_payload(key)["organic_results"]):
        info = a["publication_info"]
        out.append({"key": key, "rank": rank, "title": a["title"].strip(),
                    "result_id": a["result_id"].strip() or None,
                    "authors": [n for n in (x["name"].strip() for x in info["authors"]) if n]})
    return out


def _trim(s: str) -> str:
    return s.strip(" ")


def _categories(p: dict) -> list[str]:
    return [c for c in re.split(r"\s+", p["categories"]) if _trim(c)]


def _dedup(records: list[dict]) -> list[dict]:
    """NULL-doi passthrough dedup; the smallest id wins a non-null doi."""
    best: dict[str, dict] = {}
    nulls = []
    for r in records:
        if r["doi"] is None:
            nulls.append(r)
        elif r["doi"] not in best or r["id"] < best[r["doi"]]["id"]:
            best[r["doi"]] = r
    return sorted(list(best.values()) + nulls, key=lambda r: r["id"])


def expected_counts(batch1: list[dict], batch2: list[dict]) -> dict:
    """Row counts of every sunk table, the validation report, and the
    number of distinct publication titles (cite fetches each one at least
    once), for one ``run_pipeline`` over ``batch1`` followed by the daily
    re-run of ``batch2``. Publications are identified by title (the
    generator makes surviving titles unique)."""
    pubs = _dedup(batch1)
    names = [[n for n in p["authors"].split(", ") if _trim(n)] for p in pubs]
    author_names = {n for ns in names for n in ns}
    cat_names = {c for p in pubs for c in _categories(p)}

    kept = [(p, ns) for p, ns in zip(pubs, names) if len(_trim(p["title"])) >= 2 and ns]
    cats = {p["title"]: _categories(p) for p, _ in kept}
    authorship = {(p["title"], n) for p, ns in kept for n in ns}
    pub_cat = {(t, c) for t, cs in cats.items() for c in cs}

    # enrich: the two smallest pub ids (= arXiv ids) per category
    by_cat = defaultdict(list)
    for p, _ in kept:                        # kept is in pub-id order
        for c in set(cats[p["title"]]):
            by_cat[c].append(p["title"])
    targets = sorted({t for ts in by_cat.values() for t in ts[:2]})
    results = [r for t in targets for r in _results(t)]

    # one upsert per result title: last non-null result_id, COALESCE'd
    doi = {p["title"]: p["doi"] for p, _ in kept}
    source_doi: dict[str, str | None] = {}
    for r in sorted(results, key=lambda r: (r["key"], r["rank"])):
        source_doi.setdefault(r["title"], None)
        if r["result_id"] is not None:
            source_doi[r["title"]] = r["result_id"]
    for t, d in source_doi.items():
        doi[t] = d if d is not None else doi.get(t)
    api_authors = {(r["title"], n) for r in results for n in r["authors"]}
    pub_cat |= {(r["title"], c) for r in results for c in cats[r["key"]]}

    dois = [d for d in doi.values() if d is not None]
    dup_groups = sum(1 for n in Counter(dois).values() if n > 1)
    missing = sum(1 for d in doi.values() if d is None or _trim(d) == "")

    # daily re-run: non-null dois already in the hub drop, NULLs re-insert
    hub_dois = set(dois)
    incoming = [r for r in _dedup(batch2) if r["doi"] is None or r["doi"] not in hub_dois]
    return {
        "tables": {
            "publications": len(doi),
            "authors": len(author_names | {n for _, n in api_authors}),
            "categories": len(cat_names),
            "authorship": len(authorship | api_authors),
            "publication_category": len(pub_cat),
            "citations": sum(len(_results(t)) for t in doi),
            "log_table": len(pubs) - len(kept),
            "validation": 3,
            "publications_incremental": len(doi) + len(incoming),
        },
        "validation": {"duplicate_doi": dup_groups, "missing_doi": missing,
                       "blank_affiliation": 0},
        "distinct_titles": len(doi),
    }

