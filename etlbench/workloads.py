"""The benchmark workloads. Each drives the engine only through its public
functions, is run by one closed-loop client (the next op starts when the
previous one returned), and checks every output outside the timed region.

A workload has two op types, reported as ``op1_s`` and ``op2_s``:

* ``filings_etl``  op1 = ``ingest``, op2 = ``restate``
* ``corpus_build`` op1 = ``build``,  op2 = ``increment``
"""

from __future__ import annotations

import os
import shutil
import time

import gen
from pyspark.sql import functions as F
from spans import NullTracer, dir_bytes

from etl_financial_report_spark import io as eio
from etl_financial_report_spark import registry
from etl_financial_report_spark.operators import ingest as ep
from etl_financial_report_spark.operators import sectionizer
from etl_financial_report_spark.operators.dedup import LSH_MAX_BUCKET
from etl_financial_report_spark.sources import excel, pdf
from etl_financial_report_spark.sources.snapshots import SnapshotTable

GENERAL_SHEET = "Informasi umum"
FACT_KEY = ["kode_emiten", "tahun", "quartal", "grup_laporan_keuangan", "item"]
FACT_COLS = [
    "kode_emiten", "nama_emiten", "tahun", "quartal", "grup_laporan_keuangan",
    "item", "nilai", "notes",
]
_KEY_SCHEMA = "kode_emiten string, tahun int, quartal int, grup_laporan_keuangan string"
RESTATE_SCHEMA = (
    "kode_emiten string, nama_emiten string, tahun int, quartal int, "
    "grup_laporan_keuangan string, item string, nilai string, notes string"
)


def write_files(base: str, files: dict[str, bytes]) -> int:
    for rel, data in files.items():
        full = os.path.join(base, rel)
        os.makedirs(os.path.dirname(full), exist_ok=True)
        with open(full, "wb") as f:
            f.write(data)
    return sum(len(d) for d in files.values())


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class Workload:
    """One workload: ``prepare`` makes the inputs (never timed), ``setup``
    builds the base state and warms up (timed as ``setup_s``), and each
    ``run_pass`` runs and times one pass of ops, then checks them."""

    ops: tuple[str, str]
    #: passes a run makes at least, whatever ``--seconds`` says
    min_passes = 1

    def __init__(self, seed: int, run_dir: str):
        self.seed = seed
        self.run_dir = run_dir
        self.inputs = fresh_dir(os.path.join(run_dir, "inputs"))
        self.failures: list[str] = []
        #: ops with at least one mismatch, by (pass, op)
        self.failed_ops: set[tuple] = set()
        self.input_bytes = 0
        self.stored_bytes = 0
        #: bytes generated for the latest pass (filings_etl only)
        self.pass_input_bytes = 0

    def fail(self, op_id: tuple, what: str) -> None:
        self.failures.append(what)
        self.failed_ops.add(op_id)

    def final_check(self) -> None:
        """Checks that may only run after every timed pass (DuckDB)."""


# ------------------------------------------------------------ filings_etl

N_FILERS = 8
N_FILING_ITEMS = 40
#: restatement batches merged per pass, each one restate op
N_RESTATES = 3


class FilingsEtl(Workload):
    """The write path: each pass ingests one quarter of filings the session
    has never seen (decode, EP1 facts, EP2 notes, EP3 CALK, three
    appends), then merges restatement batches into the fact table, one
    restate op each. Tables are reset to the base version between
    passes, outside timing."""

    ops = ("ingest", "restate")
    TABLES = ("facts", "notes", "calk")

    def prepare(self) -> None:
        self.iss = gen.issuers(self.seed, N_FILERS)
        self.base_dir, self.base_expect, n = self._quarter(0)
        self.base_rows = len(self.base_expect["facts"])
        self.base_input = n
        body, _merged = gen.restatement(self.seed, self.base_expect, 0)
        self.base_restate = self._write_restate(self.base_dir, 0, body)

    def _quarter(self, k: int):
        year, q = 2010 + k // 4, k % 4 + 1
        files, expect = gen.filings_quarter(self.seed, year, q, self.iss, N_FILING_ITEMS)
        qdir = fresh_dir(os.path.join(self.inputs, f"q{k}"))
        return qdir, expect, write_files(qdir, files)

    def _open_tables(self) -> None:
        self.tables = {t: SnapshotTable(os.path.join(self.tdir, t)) for t in self.TABLES}

    def _reset(self) -> None:
        shutil.rmtree(self.tdir)
        shutil.copytree(self.pristine, self.tdir)
        self._open_tables()

    def setup(self, spark, n: int) -> None:
        """Commit the base quarter through the ingest op, which also warms
        up the ingest path, then warm up the merge path with a restatement
        of the base quarter and go back to the base version."""
        self.tdir = fresh_dir(os.path.join(self.run_dir, f"tables-{n}"))
        self.pristine = os.path.join(self.run_dir, f"pristine-{n}")
        self._open_tables()
        self._ingest(spark, _NULL, self.base_dir, self.base_expect)
        shutil.copytree(self.tdir, self.pristine)
        self._restate(spark, _NULL, self.base_restate)
        self._reset()

    def _write_restate(self, qdir: str, batch: int, body: bytes) -> str:
        rel = f"restate/batch-{batch}.json"
        write_files(qdir, {rel: body})
        return os.path.join(qdir, rel)

    def run_pass(self, spark, tr, i: int, record) -> None:
        qdir, expect, n_in = self._quarter(1 + i)
        batches = []
        facts = expect["facts"]
        for b in range(N_RESTATES):
            body, facts = gen.restatement(self.seed, {**expect, "facts": facts}, b)
            batches.append((self._write_restate(qdir, b, body), facts))
            n_in += len(body)
        self.pass_input_bytes = n_in
        with tr.op("ingest"):
            t0 = time.perf_counter()
            self._ingest(spark, tr, qdir, expect)
            record("ingest", time.perf_counter() - t0)
        self._check(spark, "ingest", expect, expect["facts"])
        for b, (path, merged) in enumerate(batches):
            with tr.op("restate"):
                t0 = time.perf_counter()
                self._restate(spark, tr, path)
                record("restate", time.perf_counter() - t0)
            self._check(spark, f"restate-{b}", expect, merged)
        if i == 0:
            self.input_bytes = self.base_input + n_in
            self.stored_bytes = dir_bytes(self.tdir)
        self._reset()

    def _ingest(self, spark, tr, qdir: str, expect: dict) -> None:
        year, q = expect["year"], expect["quarter"]
        with tr.phase("construct"):
            cells = excel.read_workbook_cells(spark, os.path.join(qdir, "wb"))
            meta = ep.extract_metadata(
                excel.sheet_as_kv(cells, GENERAL_SHEET).withColumnRenamed("path", "file_id")
            )
            sheets = (
                cells.where(F.col("sheet").isin(*gen.GROUPS))
                .groupBy("path", "sheet", "row_no")
                .pivot("col_no", [0, 1])
                .agg(F.first("cell"))
            )
            lines = sheets.select(
                F.col("path").alias("file_id"),
                F.col("sheet").alias("grup"),
                "row_no",
                F.col("0").alias("item"),
                # preamble rows hold labels; blanks and labels become NULL
                F.col("1").try_cast("double").alias("nilai"),
            )
            fact_table = self.tables["facts"]
            existing = (
                fact_table.read(spark)
                if fact_table.current_version() is not None
                else spark.createDataFrame([], _KEY_SCHEMA)
            )
            facts = ep.idempotent_append(ep.statement_facts(lines, meta), existing).cache()
            stmt = pdf.pages_to_lines(pdf.read_pdf_pages(spark, os.path.join(qdir, "stmt")))
            group_no = F.regexp_extract("path", r"_(\d)\.pdf$", 1).cast("int")
            stmt_lines = stmt.select(
                F.regexp_extract("path", r"([A-Z]+)_\d\.pdf$", 1).alias("doc_id"),
                F.element_at(F.array(*[F.lit(g) for g in gen.GROUPS]), group_no + 1).alias("grup"),
                "page_no",
                "line_no",
                "line",
            )
            # both the fact merge and the notes table consume the matches
            matches = ep.match_notes(stmt_lines, facts).cache()
            merged = ep.merge_notes(facts, matches)
            notes = ep.explode_notes(matches)
            calk_lines = pdf.pages_to_lines(
                pdf.read_pdf_pages(spark, os.path.join(qdir, "calk"))
            ).select(
                F.regexp_extract("path", r"([A-Z]+)\.pdf$", 1).alias("doc_id"),
                "page_no",
                "line_no",
                "line",
            )
            calk = sectionizer.sectionize(calk_lines).select(
                F.col("doc_id").alias("kode_emiten"),
                F.lit(year).alias("tahun"),
                F.lit(q).alias("quartal"),
                "kode_calk",
                "heading_calk",
                "konten_calk",
            )
        with tr.phase("plan"):
            for df in (merged, notes, calk):
                tr.plan(df)
        with tr.phase("exec"):
            fact_table.commit_append(merged)
            self.tables["notes"].commit_append(notes)
            self.tables["calk"].commit_append(calk)
            facts.unpersist()
            matches.unpersist()

    def _restate(self, spark, tr, path: str) -> None:
        with tr.phase("construct"):
            upd = spark.read.schema(RESTATE_SCHEMA).json(path).withColumn(
                "nilai", F.col("nilai").cast("decimal(38,2)")
            )
        with tr.phase("plan"):
            tr.plan(upd)
        with tr.phase("exec"):
            self.tables["facts"].commit_merge(upd, FACT_KEY)

    def _check(self, spark, op: str, expect: dict, facts: dict) -> None:
        year, q = expect["year"], expect["quarter"]
        this = (F.col("tahun") == year) & (F.col("quartal") == q)
        got, others = {}, 0
        for r in self.tables["facts"].read(spark).select(*FACT_COLS).collect():
            if (r.tahun, r.quartal) != (year, q):
                others += 1
                continue
            key = (r.kode_emiten, r.grup_laporan_keuangan, r.item)
            got[key] = [r.nama_emiten, r.nilai, r.notes]
        what = f"{op} {year}Q{q}"
        if got != facts:
            self.fail((year, q, op), f"{what}: {len(got)} fact rows, {len(facts)} expected")
        if others != self.base_rows:
            self.fail((year, q, op), f"{what}: {others} base rows, {self.base_rows} expected")
        if op != "ingest":
            return
        notes = sorted(
            (r.kode_emiten, r.grup_laporan_keuangan, r.item, r.pos, r.note_element)
            for r in self.tables["notes"].read(spark).where(this).collect()
            if r.is_update == (r.pos == 0)
        )
        if notes != sorted(expect["notes"]):
            self.fail((year, q, op), f"{what}: note refs differ")
        calk = {
            (r.kode_emiten, r.kode_calk): (r.heading_calk, r.konten_calk)
            for r in self.tables["calk"].read(spark).where(this).collect()
        }
        if calk != expect["calk"]:
            self.fail((year, q, op), f"{what}: CALK sections differ")


#: set-up and warm-up are never traced
_NULL = NullTracer()


# ------------------------------------------------------------ corpus_build

N_DOCS = 1000
N_DELTA = 100
#: the set-up's warm-up build runs on the first documents of the corpus
N_WARM_DOCS = 200
#: the dedup -> quality pipeline each build and increment runs; the LSH
#: query reaches the row-wise minhash-signature memo
CORPUS_QUERIES = ("dedup_minhash_lsh_pairs", "pipeline_corpus_clean")
if N_DOCS + N_DELTA >= LSH_MAX_BUCKET:
    raise ValueError("the LSH oracle check needs fewer documents than LSH_MAX_BUCKET")


class CorpusBuild(Workload):
    """The LLM-data path: ``build`` runs the dedup and quality queries cold
    (fresh corpus path, empty index store); ``increment`` adds a delta
    file of new and near-duplicate documents and re-runs them, which the
    io layer serves through the row-wise memo's append path."""

    ops = ("build", "increment")
    # each pass gives one sample per op type; two keep a median of two
    min_passes = 2

    def __init__(self, seed: int, run_dir: str):
        super().__init__(seed, run_dir)
        self.index_root = eio.INDEX_STORE_ROOT
        self.results: list[tuple] = []  # (pass, state, query, columns, rows)

    def prepare(self) -> None:
        docs = gen.corpus_docs(self.seed, N_DOCS)
        delta = gen.corpus_docs(self.seed, N_DELTA, start_id=N_DOCS, parents=docs)
        self.base_file = os.path.join(self.inputs, "base.parquet")
        self.delta_file = os.path.join(self.inputs, "delta.parquet")
        self.input_bytes = write_files(
            self.inputs,
            {"base.parquet": gen.docs_parquet(docs), "delta.parquet": gen.docs_parquet(delta)},
        )
        self.warm_file = os.path.join(self.inputs, "warm.parquet")
        write_files(self.inputs, {"warm.parquet": gen.docs_parquet(docs[:N_WARM_DOCS])})
        self.expect = {
            "build": (gen.corpus_clean_expect(docs), gen.exact_dup_pairs(docs)),
            "increment": (gen.corpus_clean_expect(docs + delta), gen.exact_dup_pairs(docs + delta)),
        }
        self.queries = registry.all_queries()

    def setup(self, spark, n: int) -> None:
        """Warm up with one cold build over a small corpus on a path of its
        own; the increment runs the same queries."""
        sf = os.path.join(self.run_dir, f"warm-{n}")
        self._pass(spark, _NULL, sf, None, self.warm_file, None)
        shutil.rmtree(sf)

    def run_pass(self, spark, tr, i: int, record) -> None:
        sf = os.path.join(self.run_dir, f"corpus-{i}")
        self._pass(spark, tr, sf, record, self.base_file, self.delta_file, i)
        if i == 0:
            self.stored_bytes = dir_bytes(self.index_root)
        shutil.rmtree(sf)

    def _pass(self, spark, tr, sf: str, record, base: str, delta: str | None, i: int = -1) -> None:
        """``build`` over ``base``, then, given a ``delta``, ``increment``."""
        docs_dir = fresh_dir(os.path.join(sf, "documents.parquet"))
        fresh_dir(self.index_root)
        shutil.copyfile(base, os.path.join(docs_dir, "part-00000.parquet"))
        for op in self.ops if delta else self.ops[:1]:
            if op == "increment":
                shutil.copyfile(delta, os.path.join(docs_dir, "part-00001.parquet"))
            out = []
            with tr.op(op):
                t0 = time.perf_counter()
                for name in CORPUS_QUERIES:
                    with tr.phase("construct"):
                        df = self.queries[name].fn(spark, sf)
                    with tr.phase("plan"):
                        tr.plan(df)
                    with tr.phase("exec"):
                        out.append((name, df.columns, df.collect()))
                if record is not None:
                    record(op, time.perf_counter() - t0)
            if record is not None:
                self._check(i, op, out)

    def _check(self, i: int, state: str, out: list) -> None:
        clean, dups = self.expect[state]
        for name, cols, rows in out:
            self.results.append((i, state, name, cols, rows))
            if name == "pipeline_corpus_clean":
                got = {
                    r.source: (r.n_docs, r.n_unique, r.n_kept, r.n_dropped_dup,
                               r.n_dropped_quality, r.chars_kept)
                    for r in rows
                }
                if got != clean:
                    self.fail((i, state), f"{state}: per-source retention differs from the plan")
            else:
                missing = dups - {(r.doc_a, r.doc_b) for r in rows}
                if missing:
                    self.fail((i, state), f"{state}: {len(missing)} planted duplicate pairs not paired")

    def final_check(self) -> None:
        """Every recorded output against the registry's DuckDB oracle, with
        the row comparison of ``tools/check_parity.py``."""
        import duckdb
        import pandas as pd
        from tools.check_parity import normalize

        both = [self.base_file, self.delta_file]
        view = "CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet({!r})"
        con = duckdb.connect()
        try:
            con.sql(view.format(both))
            pairs = con.sql(self.queries["dedup_minhash_lsh_pairs"].oracle).df()
            clean = {"increment": con.sql(self.queries["pipeline_corpus_clean"].oracle).df()}
            con.sql(view.format(both[:1]))
            clean["build"] = con.sql(self.queries["pipeline_corpus_clean"].oracle).df()
        finally:
            con.close()
        # one LSH oracle run: no band bucket reaches the cap (fewer documents
        # than LSH_MAX_BUCKET), so the base corpus's pairs are exactly the
        # pairs among base documents
        base_pairs = pairs[(pairs.doc_a < N_DOCS) & (pairs.doc_b < N_DOCS)]
        expected = {
            ("increment", "dedup_minhash_lsh_pairs"): normalize(pairs),
            ("build", "dedup_minhash_lsh_pairs"): normalize(base_pairs),
            **{(state, "pipeline_corpus_clean"): normalize(df) for state, df in clean.items()},
        }
        for i, state, name, cols, rows in self.results:
            got = normalize(pd.DataFrame.from_records([tuple(r) for r in rows], columns=cols))
            if got != expected[(state, name)]:
                self.fail((i, state), f"{state}: {name} differs from its DuckDB oracle")


WORKLOADS = {
    "filings_etl": FilingsEtl,
    "corpus_build": CorpusBuild,
}

#: input sizes, recorded in the result's record line
SIZES = {
    "filings_etl": {
        "issuers": N_FILERS, "items_per_group": N_FILING_ITEMS, "restates_per_pass": N_RESTATES,
    },
    "corpus_build": {"docs": N_DOCS, "delta_docs": N_DELTA},
}

