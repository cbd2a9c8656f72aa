"""Generator determinism: the same seed gives byte-identical input files
and the same expectations; another seed gives other files.

Run from the repository root: ``python3 -m pytest etlbench/test_gen.py``
(no Spark needed).
"""

import gen


def _filings(seed):
    iss = gen.issuers(seed, 4)
    files, expect = gen.filings_quarter(seed, 2012, 2, iss, 30)
    body, merged = gen.restatement(seed, expect, 0)
    return files, expect, body, merged


def _corpus(seed):
    docs = gen.corpus_docs(seed, 300)
    delta = gen.corpus_docs(seed, 40, start_id=300, parents=docs)
    return gen.docs_parquet(docs), gen.docs_parquet(delta), docs + delta


def test_filings_same_seed_same_bytes():
    a, b = _filings(7), _filings(7)
    assert a[0] == b[0]
    assert a[2] == b[2]
    assert a[1] == b[1] and a[3] == b[3]


def test_filings_other_seed_other_bytes():
    assert _filings(7)[0] != _filings(8)[0]


def test_corpus_same_seed_same_bytes():
    a, b = _corpus(7), _corpus(7)
    assert a[:2] == b[:2]
    assert gen.corpus_clean_expect(a[2]) == gen.corpus_clean_expect(b[2])
    assert a[:2] != _corpus(8)[:2]


def test_filings_expectations_cover_every_file():
    files, expect, _body, merged = _filings(3)
    iss = gen.issuers(3, 4)
    assert {f"wb/{c}.json" for c, _ in iss} <= set(files)
    assert sum(k.startswith("stmt/") for k in files) == 4 * len(gen.GROUPS)
    statement_rows = [k for k in expect["facts"] if "(nota" not in k[2]]
    assert len(statement_rows) == 4 * len(gen.GROUPS) * 30
    # every extra note reference becomes one zero-value insert row
    extra = [n for n in expect["notes"] if n[3] > 0]
    assert len(expect["facts"]) == len(statement_rows) + len(extra)
    # the restatement changes values only: no fact disappears
    assert set(expect["facts"]) <= set(merged)
    assert {code for code, _ in expect["calk"]} == {c for c, _ in iss}


def test_corpus_plants_duplicates():
    *_files, docs = _corpus(5)
    assert gen.exact_dup_pairs(docs)
    per_source = gen.corpus_clean_expect(docs)
    assert sum(v[3] for v in per_source.values()) > 0  # dropped as duplicates
    assert sum(v[0] for v in per_source.values()) == len(docs)
