"""Seeded input generators for the benchmark workloads.

Pure Python: no Spark, no package import. Every generator takes the
workload seed and returns plain rows, so the same seed always gives the
same inputs; ``prep_inputs`` also returns a ``truth`` record of what it
planted, which the output checks compare the program's product against.
The program itself only ever sees the DataFrames built from these rows
(``workloads.py``).

Sizes and fractions are module constants; ``perfbench/README.md`` lists
them per workload.
"""

from __future__ import annotations

import random
from typing import Any

# Word-salad vocabulary in the style of the sf ``documents`` table (short
# lower-case technical words), widened so random 3-word shingles rarely
# collide between unrelated documents.
VOCAB = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data join "
    "vector customer index shard block page frame record field cache buffer "
    "queue route token graph node edge split range bound limit score weight "
    "model layer input output source target state event clock timer"
).split()
LANGS = ("en", "de", "fr", "es", "zh")
N_SOURCES = 20

# ---- extract: uniform pages, one document each (bench.py's shape) ----
EXTRACT_PAGES = 12000
DOC_WORDS = (10, 90)  # uniform word count per document, ~300 chars

# ---- skew pages (the traced extract run's skew probe): most pages one
# document, a seeded few concatenate many (docs per page, number of such
# pages); the largest page's html is ~10^7 B
SKEW_UNIFORM_PAGES = 2000
SKEW_TAIL = ((3600, 1), (900, 2), (240, 4), (60, 8), (15, 16))

# ---- derive probe: a triggers table for the first extract pages, whole
# books of 512 (fixture_trigger_rows shape)
DERIVE_PAGES = 4096
TRIGGER_PAGE_FRAC = 0.6  # pages with a triggers row; each gets 0-3 candidates
EDGE_STRIPE_FRAC = 0.15  # of trigger pages: a shape-rejected edge stripe
DUP_BOX_FRAC = 0.2  # of trigger pages: an overlapping duplicate candidate

# ---- corpus_prep: crawl-shaped documents for prepare_web_corpus ----
PREP_DOCS = 1000
PREP_LINES = (4, 12)  # 12-word period-terminated lines per document
PREP_EVAL_DOCS = 20
PREP_FRACS = {
    "exact_dup": 0.05,  # another document re-wrapped two lines per line
    "near_dup": 0.05,  # such a re-wrapped copy with one word replaced
    "url_dup": 0.03,  # another document's url plus a tracking parameter
    "boilerplate": 0.30,  # carries one line from a small shared pool
    "contaminated": 0.02,  # carries one line of an eval document
    "pii": 0.10,  # carries an email address and a phone number
    "short": 0.03,  # under Gopher's 50-word floor
}
BOILERPLATE_POOL = 6
CLOSING_LINE = "the rest of the data is that we have it with care."

# pages_from_documents lays words out 8 per line from y=220 with a 40 px
# line pitch and 22 px boxes (sources/doc_pages.py); triggers must overlap
# those lines to select spans.
_WORDS_PER_LINE = 8
_BODY_Y0 = 220
_LINE_GAP = 40
_LINE_H = 22


def _rng(workload: str, seed: int) -> random.Random:
    return random.Random(f"perfbench/{workload}/{seed}")


def _words(rng: random.Random, n: int) -> list[str]:
    return [rng.choice(VOCAB) for _ in range(n)]


def _doc(rng: random.Random, doc_id: int, text: str) -> dict[str, Any]:
    return {
        "doc_id": doc_id,
        "text": text,
        "lang": LANGS[rng.randrange(len(LANGS))],
        "source": f"src{rng.randrange(N_SOURCES)}",
        "n_chars": len(text),
    }


def page_url(doc: dict[str, Any]) -> str:
    """The url ``pages_from_documents`` gives a document's page."""
    book = f"{doc['source']}-{doc['doc_id'] // 512:05d}"
    return f"https://docs.test/book_{book}/page_{doc['doc_id']:06d}"


def extract_docs(seed: int) -> list[dict[str, Any]]:
    """Single-document pages of ~300 characters."""
    rng = _rng("extract", seed)
    return [
        _doc(rng, i, " ".join(_words(rng, rng.randint(*DOC_WORDS))))
        for i in range(EXTRACT_PAGES)
    ]


def skew_docs(seed: int) -> list[dict[str, Any]]:
    """Uniform pages plus a heavy tail: each tail page's text concatenates
    many documents. The tail sizes are fixed; the seed picks the words and
    which ids carry the tail, so every seed has the same size profile."""
    rng = _rng("skew", seed)
    n_tail = sum(count for _, count in SKEW_TAIL)
    n = SKEW_UNIFORM_PAGES + n_tail
    tail_ids = rng.sample(range(n), n_tail)
    docs_per_page = {}
    it = iter(tail_ids)
    for k, count in SKEW_TAIL:
        for _ in range(count):
            docs_per_page[next(it)] = k
    docs = []
    for i in range(n):
        k = docs_per_page.get(i, 1)
        text = " ".join(
            " ".join(_words(rng, rng.randint(*DOC_WORDS))) for _ in range(k)
        )
        docs.append(_doc(rng, i, text))
    return docs


def triggers_for(seed: int, docs: list[dict[str, Any]]) -> list[dict[str, Any]]:
    """Trigger rows for the pages of ``docs``. Candidates overlap body
    lines of their page; some pages add an edge stripe the shape gates
    must reject, some an overlapping duplicate box that exercises the span
    merge."""
    rng = _rng("derive", seed)
    triggers = []
    for doc in docs:
        if rng.random() >= TRIGGER_PAGE_FRAC:
            continue
        n_lines = -(-len(doc["text"].split()) // _WORDS_PER_LINE)
        cands = []
        for k in range(rng.randrange(4)):
            y0 = _BODY_Y0 + rng.randrange(n_lines) * _LINE_GAP - 4
            x0 = 80 + rng.randrange(200)
            cands.append(_cand([x0, y0, x0 + 260, y0 + _LINE_H + 8], 40.0))
            if k == 0 and rng.random() < DUP_BOX_FRAC:
                cands.append(_cand([x0 + 15, y0 + 2, x0 + 275, y0 + _LINE_H + 10], 41.0))
        if rng.random() < EDGE_STRIPE_FRAC:
            cands.append(_cand([2, 150, 22, 900], 10.0))
        triggers.append({"url": page_url(doc), "candidates": cands})
    return triggers


def _cand(bbox: list[int], hue: float) -> dict[str, Any]:
    return {
        "bbox": bbox,
        "area": (bbox[2] - bbox[0]) * (bbox[3] - bbox[1]),
        "color_stats": {"h_mean": hue, "s_mean": 120.0, "v_mean": 200.0},
    }


def _line(rng: random.Random) -> str:
    return " ".join(_words(rng, 12)) + "."


def prep_inputs(
    seed: int,
) -> tuple[list[dict[str, Any]], list[dict[str, Any]], dict[str, Any]]:
    """(documents with urls, eval documents, truth).

    Documents follow the crawl-shape rule: 12-word lines ending in a period
    and a closing line carrying Gopher stopwords. Each injected property
    (see ``PREP_FRACS``) goes to its own disjoint set of documents, and the
    truth record names them for the output checks."""
    rng = _rng("corpus_prep", seed)
    n = PREP_DOCS
    evals = [
        {"doc_id": 10_000_000 + i, "text": "\n".join(_line(rng) for _ in range(6))}
        for i in range(PREP_EVAL_DOCS)
    ]
    pool = [_line(rng) for _ in range(BOILERPLATE_POOL)]
    docs = []
    for i in range(n):
        lines = [_line(rng) for _ in range(rng.randint(*PREP_LINES))]
        docs.append(
            {
                "doc_id": i,
                "url": f"https://src{i % N_SOURCES}.test/doc/{i}",
                "lines": lines,
                "lang": LANGS[i % len(LANGS)],
            }
        )
    order = list(range(n))
    rng.shuffle(order)
    sets: dict[str, list[int]] = {}
    at = 0
    for name, frac in PREP_FRACS.items():
        k = int(round(frac * n))
        sets[name] = sorted(order[at : at + k])
        at += k
    # originals for copies come from the untouched remainder, so a copy is
    # never itself modified by another injection, and each copy gets its
    # own original: two copies of one original would share re-wrapped
    # lines, which line dedup would then strip from both
    plain = iter(order[at:])
    truth: dict[str, Any] = {"sets": sets, "pairs": {}}
    for name in ("exact_dup", "near_dup", "url_dup"):
        truth["pairs"][name] = []
        for i in sets[name]:
            j = next(plain)
            truth["pairs"][name].append([j, i])
            if name == "url_dup":
                docs[i]["url"] = docs[j]["url"] + "?utm_source=feed"
                continue
            # re-wrap the copy two lines per line: equal to the original
            # after whitespace normalisation (exact dedup's key) but with
            # no line in common, so line dedup leaves both intact
            src = docs[j]["lines"]
            lines = [" ".join(src[k : k + 2]) for k in range(0, len(src), 2)]
            if name == "near_dup":
                li = rng.randrange(len(lines))
                words = lines[li].split()
                inner = [k for k, w in enumerate(words) if not w.endswith(".")]
                words[rng.choice(inner)] = "replaced"
                lines[li] = " ".join(words)
            docs[i]["lines"] = lines
    for i in sets["boilerplate"]:
        docs[i]["lines"].insert(rng.randrange(len(docs[i]["lines"]) + 1), rng.choice(pool))
    # one distinct eval line per contaminated document: a line shared by
    # two documents would be stripped by line dedup before decontamination
    eval_lines = [ln for ev in evals for ln in ev["text"].split("\n")]
    for i, ln in zip(sets["contaminated"], rng.sample(eval_lines, len(sets["contaminated"]))):
        docs[i]["lines"].insert(1, ln)
    for i in sets["pii"]:
        li = rng.randrange(len(docs[i]["lines"]))
        words = docs[i]["lines"][li][:-1].split()
        words[2:2] = [f"user{i}@mail{i % 7}.example.com", "call", f"555-{i % 900 + 100}-{1000 + i % 9000}"]
        docs[i]["lines"][li] = " ".join(words) + "."
    for i in sets["short"]:
        docs[i]["lines"] = docs[i]["lines"][:2]
    rows = [
        {
            "doc_id": d["doc_id"],
            "url": d["url"],
            "text": "\n".join(d["lines"] + [CLOSING_LINE]),
            "lang": d["lang"],
        }
        for d in docs
    ]
    return rows, evals, truth
