"""The workloads: set-up, the timed job chain, output checks and the
traced-only layer measurements.

Each workload drives the package's public API from outside, the way a
user would, on inputs built from ``gen.py``:

* ``extract``      pages → ``extract_pages`` → parquet corpus →
                   ``apply_printed_page_mode`` → full-text aggregate
                   (bench.py's ``extract`` row). Its traced run adds two
                   probes, each run once: the skew probe (the same chain
                   on heavy-tailed page sizes) and the derive probe
                   (corpus + triggers → ``make_spans`` → ``emit_notes``
                   → notes parquet, and ``export_book_text`` txt and md);
* ``corpus_prep``  crawl-shaped documents → ``prepare_web_corpus`` →
                   parquet.

``iterate`` is the timed body; it raises ``OutputError`` when the run's
own quick check fails. ``check`` verifies the last product in full after
the timer: an order-independent digest, compared with the pinned one for
the pinned seeds, plus invariants that hold on every seed.
"""

from __future__ import annotations

import hashlib
import json
import re
from pathlib import Path
from typing import Any

import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F, types as T

import gen
import layers
from harness import MB, Session, Tracer, dir_bytes, median, sum_spans

from ocr_obsidian_spark.operators.dedup import (
    drop_exact_duplicates,
    drop_near_duplicates,
    minhash_lsh_candidate_pairs,
    ngram_jaccard_pairs,
)
from ocr_obsidian_spark.operators.emit import emit_notes
from ocr_obsidian_spark.operators.export_text import export_book_text
from ocr_obsidian_spark.operators.extract import extract_pages
from ocr_obsidian_spark.operators.printed_page import (
    apply_printed_page_mode,
    roman_null_set,
)
from ocr_obsidian_spark.operators.recipe import gate_documents, prepare_web_corpus
from ocr_obsidian_spark.operators.spans_op import filter_block_candidates, make_spans
from ocr_obsidian_spark.operators.webprep import (
    EMAIL_RE,
    PHONE_RE,
    decontaminate,
    drop_duplicated_lines,
    drop_url_duplicates,
    scrub_pii,
)
from ocr_obsidian_spark.schemas import TRIGGERS
from ocr_obsidian_spark.sources.doc_pages import pages_from_documents

DOCS = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)
CRAWL = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("url", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)
EVALS = T.StructType(
    [T.StructField("doc_id", T.LongType(), False), T.StructField("text", T.StringType(), True)]
)
RECIPE_STAGES = (
    "input", "url_dedup", "gopher", "gopher_rep", "c4", "line_dedup",
    "exact_dedup", "near_dedup", "decontaminate", "output",
)
RUN_ID = "perfbench"
# the skew probe's tail pages lie above this html size
SMALL_PAGE = 1 << 16
# the tail tiers up to ~2 MB of html are timed function by function; the
# two largest tiers would add seconds of single-threaded time for no new
# information
TAIL_MAX = 1 << 21
FUNC_SAMPLE = 300
WARM_PASSES = 1


class OutputError(RuntimeError):
    """The product of a run does not pass its output check."""


def _digest(hashes: list[str]) -> str:
    h = hashlib.sha256()
    for x in sorted(hashes):
        h.update(x.encode())
    return h.hexdigest()


def _row_hash(*cols: str) -> F.Column:
    """sha256 of the columns with NULL kept distinct from any string."""
    return F.sha2(
        F.concat_ws("\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols]),
        256,
    )


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""

    def __init__(self, seed: int, sess: Session, work: Path, tracer: Tracer):
        self.seed = seed
        self.sess = sess
        self.spark = sess.spark
        self.out = work / "out"
        self.tr = tracer
        self.facts: dict[str, Any] = {}

    # -- interface ------------------------------------------------------
    def build_inputs(self) -> None:
        """Generate the inputs and persist them as DataFrames."""
        raise NotImplementedError

    def prepare(self, full_warm: bool = True) -> None:
        """Set-up writes and the untimed warm-up; ``full_warm=False``
        keeps only the cheapest warm-up pass."""
        raise NotImplementedError

    def iterate(self) -> None:
        raise NotImplementedError

    def n_docs(self) -> int:
        raise NotImplementedError

    def output_bytes(self) -> int:
        raise NotImplementedError

    def check(self) -> tuple[str, dict[str, Any]]:
        """(digest, details); raises OutputError on a failed invariant."""
        raise NotImplementedError

    def quick_check(self) -> None:
        """Cheap per-iteration check, run after each iteration's timer."""

    def extras(self) -> None:
        """Traced-only measurements run after the timed loop."""

    def function_sample(self) -> dict[str, float]:
        return {}

    def per_layer(self, folded: dict) -> dict[str, float]:
        return {}

    # -- shared -----------------------------------------------------------
    def _loop_ids(self, name: str) -> list[int]:
        """Ids of the spans called ``name`` inside the timed loop."""
        return [i for i in self.tr.ids(name) if self.tr.spans[i]["iteration"] is not None]

    def _loop_wall(self, name: str) -> float:
        spans = self.tr.spans
        return median([spans[i]["end"] - spans[i]["start"] for i in self._loop_ids(name)])

    def _loop_metric(self, folded: dict, name: str, key: str) -> float:
        return median([sum_spans(folded, self.tr.subtree(i))[key] for i in self._loop_ids(name)])

    def _frame(self, rows: list[dict[str, Any]], schema: T.StructType) -> DataFrame:
        pdf = pd.DataFrame(rows, columns=[f.name for f in schema.fields])
        return self.spark.createDataFrame(pdf, schema=schema)

    def iteration_totals(self, folded: dict) -> dict[str, float]:
        """Per-iteration sums over every span of the timed loop, medians
        across iterations."""
        iters = sorted({s["iteration"] for s in self.tr.spans if s["iteration"] is not None})
        rows = [
            sum_spans(folded, {s["id"] for s in self.tr.spans if s["iteration"] == i})
            for i in iters
        ]

        def med(key: str) -> float:
            return median([r[key] for r in rows])

        return {
            "spark.jobs": med("jobs"),
            "spark.stages": med("stages"),
            "spark.gc_s": med("gc_s"),
            "spark.spill_mb": med("spill_mb"),
            "spark.shuffle_mb": med("shuffle_mb"),
            "scan.read_mb": med("read_mb"),
            "scan.rows": med("read_rows"),
        }


# --------------------------------------------------------------- extract


class Extract(Workload):
    """The north-rule spine on uniform single-document pages. Its traced
    run adds the skew probe (the same chain once on heavy-tailed pages)
    and the derive probe (``DeriveProbe``)."""

    name = "extract"

    def __init__(self, *a: Any) -> None:
        super().__init__(*a)
        self.pages: DataFrame | None = None
        self.corpus_path = str(self.out / "corpus")
        self.expect: tuple[int, int] | None = None

    def build_inputs(self) -> None:
        self.docs = docs = gen.extract_docs(self.seed)
        self.urls = {gen.page_url(d) for d in docs}
        if self.pages is not None:
            self.pages.unpersist()
        self.pages = self._pages(docs)

    def _pages(self, docs: list[dict[str, Any]]) -> DataFrame:
        frame = self._frame(docs, DOCS).repartition(self.sess.cores, "doc_id")
        pages = pages_from_documents(frame).persist(StorageLevel.MEMORY_AND_DISK)
        pages.count()
        return pages

    def prepare(self, full_warm: bool = True) -> None:
        # warm the Python workers and the codegen of the whole chain on a
        # 10% sample, then the JIT on full passes: the chain keeps getting
        # faster over the first passes, and the timed runs should not sit
        # on the steep part of that curve
        self._chain(self.pages.sample(0.1, seed=1), str(self.out / "warm"))
        for _ in range(WARM_PASSES if full_warm else 0):
            self._chain(self.pages, str(self.out / "warm"))

    def n_docs(self) -> int:
        return len(self.urls)

    def _chain(self, pages: DataFrame, path: str, prefix: str = "") -> tuple[int, int]:
        with self.tr.span(prefix + "extract"):
            extract_pages(pages).write.mode("overwrite").parquet(path)
        with self.tr.span(prefix + "printed_page"):
            corpus = apply_printed_page_mode(self.spark.read.parquet(path))
        with self.tr.span(prefix + "aggregate"):
            row = corpus.select(
                F.count(F.lit(1)).alias("n"), F.sum(F.length("extracted_text")).alias("b")
            ).collect()[0]
        return int(row["n"]), int(row["b"] or 0)

    def iterate(self) -> None:
        self.got = self._chain(self.pages, self.corpus_path)

    def quick_check(self) -> None:
        got = self.got
        if got[0] != self.n_docs():
            raise OutputError(f"{got[0]} rows for {self.n_docs()} pages")
        if self.expect is None:
            self.expect = got
        elif got != self.expect:
            raise OutputError(f"iteration product {got} differs from {self.expect}")

    def output_bytes(self) -> int:
        return dir_bytes(Path(self.corpus_path))

    def check(self) -> tuple[str, dict[str, Any]]:
        return self._check(self.corpus_path, self.urls)

    def _check(self, path: str, urls: set[str]) -> tuple[str, dict[str, Any]]:
        corpus = apply_printed_page_mode(self.spark.read.parquet(path))
        rows = corpus.select(
            "url",
            "parse_ok",
            _row_hash(
                "url", "extracted_text", "printed_page", "printed_page_text",
                "printed_page_kind",
            ).alias("h"),
        ).collect()
        got = [r["url"] for r in rows]
        if len(got) != len(set(got)) or set(got) != urls:
            raise OutputError("generated urls do not each appear exactly once")
        bad = sum(1 for r in rows if r["parse_ok"] is not True)
        if bad:
            raise OutputError(f"{bad} pages with parse_ok false")
        return _digest([r["h"] for r in rows]), {"rows": len(rows)}

    # -- traced only --------------------------------------------------------
    def extras(self) -> None:
        with self.tr.span("extract.noop"):
            _noop(extract_pages(self.pages))
        with self.tr.span("printed_page.null_set"):
            self.facts["null_urls"] = roman_null_set(
                self.spark.read.parquet(self.corpus_path)
            ).count()
        # skew probe: heavy-tailed pages through the same, now warm, chain
        docs = gen.skew_docs(self.seed)
        skew = self._pages(docs)
        path = str(self.out / "skew_corpus")
        self._chain(skew, path, prefix="skew.")
        self._check(path, {gen.page_url(d) for d in docs})
        tail = (
            skew.filter((F.length("html") >= SMALL_PAGE) & (F.length("html") < TAIL_MAX))
            .select("url", "html")
            .collect()
        )
        per_kb = layers.time_extract_functions([(r["url"], bytes(r["html"])) for r in tail])
        self.facts.update({k: v for k, v in per_kb.items() if k.endswith("_per_kb")})
        skew.unpersist()
        self.derive = DeriveProbe(self, self.docs[: gen.DERIVE_PAGES])
        self.derive.run()

    def function_sample(self) -> dict[str, float]:
        frac = min(1.0, 1.5 * FUNC_SAMPLE / max(self.n_docs(), 1))
        rows = self.pages.sample(frac, seed=self.seed).select("url", "html").collect()
        got = layers.time_extract_functions(
            [(r["url"], bytes(r["html"])) for r in rows[:FUNC_SAMPLE]]
        )
        out = {k: v for k, v in got.items() if not k.endswith("_per_kb")}
        out.update(self.derive.function_sample())
        return out

    def per_layer(self, folded: dict) -> dict[str, float]:
        ext = [sum_spans(folded, self.tr.subtree(i)) for i in self._loop_ids("extract")]
        p50 = median([median(e["task_s"]) for e in ext])
        tmax = median([max(e["task_s"], default=0.0) for e in ext])
        noop = sum_spans(folded, set(self.tr.ids("extract.noop")))
        skew = sum_spans(folded, set(self.tr.ids("skew.extract")))
        skew_p50 = median(skew["task_s"])
        skew_max = max(skew["task_s"], default=0.0)
        functions_us = sum(self.facts.get(f"functions.{p}_us", 0.0) for p in layers.PHASES)
        out = {
            "extract.task_s": median([e["run_s"] for e in ext]),
            "extract.jvm_cpu_s": median([e["cpu_s"] for e in ext]),
            "extract.tasks": median([e["tasks"] for e in ext]),
            "extract.task_p50_s": p50,
            "extract.task_max_s": tmax,
            "extract.skew": tmax / p50 if p50 else 0.0,
            "extract.to_python_mb": median([e["to_python_mb"] for e in ext]),
            "extract.from_python_mb": median([e["from_python_mb"] for e in ext]),
            "extract.row_loop_us": noop["run_s"] / self.n_docs() * 1e6 - functions_us,
            # the same frame to parquet minus to the noop sink
            "sink.write_s": self._loop_wall("extract") - median(self.tr.durations("extract.noop")),
            "sink.bytes_mb": self.output_bytes() / MB,
            "sink.files": float(len(list(Path(self.corpus_path).glob("part-*")))),
            "printed_page.wall_s": self._loop_wall("printed_page"),
            "printed_page.shuffle_mb": self._loop_metric(folded, "printed_page", "shuffle_mb"),
            "printed_page.null_urls": float(self.facts["null_urls"]),
            "printed_page.jobs": self._loop_metric(folded, "printed_page", "jobs"),
            "skew.wall_s": sum(
                sum(self.tr.durations(f"skew.{s}")) for s in ("extract", "printed_page", "aggregate")
            ),
            "skew.task_p50_s": skew_p50,
            "skew.task_max_s": skew_max,
            "skew.ratio": skew_max / skew_p50 if skew_p50 else 0.0,
        }
        out.update(self.derive.per_layer(folded))
        out.update(self.iteration_totals(folded))
        return out


# ----------------------------------------------------------- derive probe


class DeriveProbe:
    """The read side, run once inside the extract workload's traced run:
    spans, notes and book text from the corpus the extract loop wrote plus
    a seeded triggers table, with no extract UDF in the measured part."""

    def __init__(self, ext: Extract, docs: list[dict[str, Any]]):
        self.ext = ext
        self.spark = ext.spark
        self.tr = ext.tr
        self.out = ext.out / "derive"
        self.corpus_path = str(self.out / "corpus")
        self.triggers_path = str(self.out / "triggers")
        self.products = {fmt: self.out / fmt for fmt in ("notes", "txt", "md")}
        self.facts: dict[str, float] = {}
        trig = gen.triggers_for(self.ext.seed, docs)
        self.trigger_urls = {t["url"] for t in trig}
        urls = self.spark.createDataFrame([(gen.page_url(d),) for d in docs], "url string")
        # set-up writes: the mode-applied corpus of ``docs``' pages and the
        # triggers table
        apply_printed_page_mode(self.spark.read.parquet(ext.corpus_path)).join(
            urls, "url", "left_semi"
        ).write.mode("overwrite").parquet(self.corpus_path)
        self.spark.createDataFrame(trig, schema=TRIGGERS).write.mode("overwrite").parquet(
            self.triggers_path
        )

    def _inputs(self) -> tuple[DataFrame, DataFrame]:
        return (
            self.spark.read.parquet(self.corpus_path),
            self.spark.read.parquet(self.triggers_path),
        )

    def chain(self, sample: bool = False) -> None:
        corpus, triggers = self._inputs()
        base = self.out / "warm" if sample else self.out
        if sample:
            corpus = corpus.sample(0.1, seed=1)
        prefix = "" if sample else "derive."
        with self.tr.span(prefix + "notes"):
            notes = emit_notes(corpus, make_spans(corpus, triggers), run_id=RUN_ID)
            notes.write.mode("overwrite").parquet(str(base / "notes"))
        with self.tr.span(prefix + "export_text"):
            for fmt in ("txt", "md"):
                export_book_text(corpus, fmt=fmt).write.mode("overwrite").parquet(
                    str(base / fmt)
                )

    def run(self) -> None:
        """Warm-up on a 10% sample, the measured chain, the isolating
        extras, then the output check."""
        self.chain(sample=True)
        self.chain()
        corpus, triggers = self._inputs()
        with self.tr.span("spans_op"):
            _noop(make_spans(corpus, triggers))
        row = make_spans(corpus, triggers).agg(
            F.count(F.lit(1)).alias("rows"), F.sum(F.size("spans")).alias("spans")
        ).collect()[0]
        self.facts["span_rows"] = int(row["rows"])
        self.facts["spans"] = int(row["spans"] or 0)
        spans = make_spans(corpus, triggers).localCheckpoint(eager=True)
        with self.tr.span("emit"):
            _noop(emit_notes(corpus, spans, run_id=RUN_ID))
        self.check()

    def check(self) -> None:
        read = self.spark.read.parquet
        notes = read(str(self.products["notes"]))
        keys = [(r["url"], r["span_id"]) for r in notes.select("url", "span_id").collect()]
        if not keys or len(keys) != len(set(keys)):
            raise OutputError("notes missing or (url, span_id) repeated")
        if not {u for u, _ in keys} <= self.trigger_urls:
            raise OutputError("a note for a page without triggers")
        corpus = read(self.corpus_path)
        n_pages = corpus.count()
        n_books = corpus.select("book_id").distinct().count()
        for fmt, header in (("txt", r"(?m)^# Page \d+$"), ("md", r"(?m)^## Page \S+ \(scan: ")):
            books = read(str(self.products[fmt])).collect()
            if len(books) != n_books:
                raise OutputError(f"{len(books)} {fmt} books for {n_books} book ids")
            pages = sum(len(re.findall(header, b["content"])) for b in books)
            if pages != n_pages:
                raise OutputError(f"{fmt} book text holds {pages} of {n_pages} pages")
        self.facts["notes_out"] = len(keys)
        self.facts["books"] = n_books

    def function_sample(self) -> dict[str, float]:
        corpus, triggers = self._inputs()
        joined = filter_block_candidates(
            corpus.select("url", "page_num", "page_width", "page_height", "lines_json").join(
                triggers, "url"
            )
        ).filter(F.size("candidates") > 0)
        frac = min(1.0, 1.5 * FUNC_SAMPLE / max(len(self.trigger_urls), 1))
        rows = joined.sample(frac, seed=self.ext.seed).collect()[:FUNC_SAMPLE]
        return layers.time_span_functions(
            [
                (r["lines_json"], [list(c["bbox"]) for c in r["candidates"]], r["page_num"])
                for r in rows
            ]
        )

    def per_layer(self, folded: dict) -> dict[str, float]:
        tr = self.tr
        export = sum_spans(folded, set(tr.ids("derive.export_text")))
        reads = sum_spans(
            folded, set(tr.ids("derive.notes")) | set(tr.ids("derive.export_text"))
        )
        return {
            "spans_op.wall_s": median(tr.durations("spans_op")),
            "spans_op.rows_out": float(self.facts["span_rows"]),
            "spans_op.shuffle_mb": sum_spans(folded, set(tr.ids("spans_op")))["shuffle_mb"],
            "emit.wall_s": median(tr.durations("emit")),
            "emit.notes_out": float(self.facts["notes_out"]),
            "emit.notes_per_span": self.facts["notes_out"] / max(self.facts["spans"], 1),
            "export_text.wall_s": median(tr.durations("derive.export_text")),
            "export_text.shuffle_mb": export["shuffle_mb"],
            "export_text.books": float(self.facts["books"]),
            "derive.wall_s": median(tr.durations("derive.notes"))
            + median(tr.durations("derive.export_text")),
            "derive.scan_mb": reads["read_mb"],
            "derive.output_mb": sum(dir_bytes(p) for p in self.products.values()) / MB,
        }


# ----------------------------------------------------------- corpus_prep


class CorpusPrep(Workload):
    """The shuffle-heavy web-corpus recipe; no extraction layer runs."""

    name = "corpus_prep"

    def __init__(self, *a: Any) -> None:
        super().__init__(*a)
        self.docs: DataFrame | None = None
        self.evals: DataFrame | None = None
        self.out_path = str(self.out / "prepared")
        self.counts: dict[str, int] = {}
        self.expect: dict[str, int] | None = None

    def build_inputs(self) -> None:
        rows, evals, self.truth = gen.prep_inputs(self.seed)
        self.n = len(rows)
        for df in (self.docs, self.evals):
            if df is not None:
                df.unpersist()
        self.docs = (
            self._frame(rows, CRAWL)
            .repartition(self.sess.cores)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        self.evals = self._frame(evals, EVALS).persist(StorageLevel.MEMORY_AND_DISK)
        self.docs.count()
        self.evals.count()

    def prepare(self, full_warm: bool = True) -> None:
        # the warm-up runs on the full input: at this size the recipe's
        # cost is planning, codegen and job scheduling, not data, so a
        # sample pass costs as much and leaves the first timed run colder
        warm = prepare_web_corpus(self.docs, langs=None, benchmark=self.evals)
        warm.df.write.mode("overwrite").parquet(str(self.out / "warm"))

    def n_docs(self) -> int:
        return self.n

    def iterate(self) -> None:
        with self.tr.span("recipe"):
            res = prepare_web_corpus(self.docs, langs=None, benchmark=self.evals)
            res.df.write.mode("overwrite").parquet(self.out_path)
        self.counts = res.counts()

    def quick_check(self) -> None:
        if not self.counts.get("output"):
            raise OutputError("the recipe kept no documents")
        if self.expect is None:
            self.expect = self.counts
        elif self.counts != self.expect:
            raise OutputError(f"stage counts {self.counts} differ from {self.expect}")

    def output_bytes(self) -> int:
        return dir_bytes(Path(self.out_path))

    def check(self) -> tuple[str, dict[str, Any]]:
        rows = self.spark.read.parquet(self.out_path).select("doc_id", "text").collect()
        kept = [int(r["doc_id"]) for r in rows]
        keep = set(kept)
        if len(kept) != len(keep) or len(kept) != self.counts.get("output"):
            raise OutputError("kept doc_ids repeat or disagree with the output count")
        seq = [self.counts[s] for s in RECIPE_STAGES if s in self.counts]
        if any(b > a for a, b in zip(seq, seq[1:])):
            raise OutputError(f"stage counts grow: {self.counts}")
        for kind, pairs in self.truth["pairs"].items():
            both = [p for p in pairs if p[0] in keep and p[1] in keep]
            if both:
                raise OutputError(f"{len(both)} {kind} pairs kept twice")
        for kind in ("contaminated", "short"):
            if keep & set(self.truth["sets"][kind]):
                raise OutputError(f"{kind} documents kept")
        pii = re.compile(f"{EMAIL_RE}|{PHONE_RE}")
        if any(pii.search(r["text"] or "") for r in rows):
            raise OutputError("PII left in kept text")
        hashes = [
            hashlib.sha256(f"{r['doc_id']}\x1f{r['text']}".encode()).hexdigest() for r in rows
        ]
        hashes.append(hashlib.sha256(json.dumps(self.counts, sort_keys=True).encode()).hexdigest())
        return _digest(hashes), {"kept": len(kept), "counts": self.counts}

    # -- traced only --------------------------------------------------------
    def extras(self) -> None:
        docs, evals = self.docs, self.evals

        def near() -> DataFrame:
            pairs = ngram_jaccard_pairs(docs, candidate_pairs=minhash_lsh_candidate_pairs(docs))
            return drop_near_duplicates(docs, pairs)

        gates = {
            "webprep.url_dedup_s": lambda: drop_url_duplicates(docs),
            "recipe.gates_s": lambda: gate_documents(docs, langs=None),
            "webprep.line_dedup_s": lambda: drop_duplicated_lines(
                docs.select("doc_id", "text"), min_docs=2
            ),
            "dedup.exact_s": lambda: drop_exact_duplicates(docs),
            "dedup.near_s": near,
            "webprep.decontaminate_s": lambda: decontaminate(docs, evals),
            "webprep.pii_s": lambda: scrub_pii(docs),
        }
        for name, build in gates.items():
            with self.tr.span(name):
                _noop(build())

    def per_layer(self, folded: dict) -> dict[str, float]:
        out = {f"recipe.rows.{s}": float(self.counts.get(s, 0)) for s in RECIPE_STAGES}
        for name in (
            "webprep.url_dedup_s", "recipe.gates_s", "webprep.line_dedup_s",
            "dedup.exact_s", "dedup.near_s", "webprep.decontaminate_s", "webprep.pii_s",
        ):
            out[name] = median(self.tr.durations(name))
        out["recipe.shuffle_mb"] = self._loop_metric(folded, "recipe", "shuffle_mb")
        out["recipe.spill_mb"] = self._loop_metric(folded, "recipe", "spill_mb")
        out["recipe.jobs"] = self._loop_metric(folded, "recipe", "jobs")
        out["sink.bytes_mb"] = self.output_bytes() / MB
        out["sink.files"] = float(len(list(Path(self.out_path).glob("part-*"))))
        out.update(self.iteration_totals(folded))
        return out


WORKLOADS = {w.name: w for w in (Extract, CorpusPrep)}
