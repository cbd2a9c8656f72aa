"""Seeded input generator and plain-Python expectations for the benchmark.

Everything here is pure Python (plus pyarrow for parquet files): no Spark.
The engine only ever sees the files these functions return; the expected
outcomes are computed from the same generation plan, independently of the
engine's code paths, so the correctness gate can compare the two.

Same seed => byte-identical files (``tests`` in ``test_gen.py``).
"""

from __future__ import annotations

import hashlib
import io
import json
import random
import re
import unicodedata
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq

#: statement-group titles, in the engine's order (operators.ingest)
GROUPS = ("Laporan Neraca", "Laporan Laba Rugi", "Laporan Arus Kas")

_PERIODE = {
    1: "Kuartal I / First Quarter",
    2: "Kuartal II / Second Quarter",
    3: "Kuartal III / Third Quarter",
    4: "Tahunan / Annual",
}

_ITEM_WORDS = (
    "kas", "piutang", "persediaan", "aset tetap", "utang usaha", "pendapatan",
    "beban pokok", "laba bruto", "beban usaha", "pajak", "modal saham",
    "saldo laba", "investasi", "pinjaman bank", "arus kas operasi",
)

_CALK_WORDS = (
    "perusahaan", "didirikan", "berdasarkan", "akta", "notaris", "kebijakan",
    "akuntansi", "laporan", "keuangan", "disusun", "sesuai", "standar",
    "pengukuran", "nilai", "wajar", "estimasi", "pengakuan", "pendapatan",
)

_CALK_HEADINGS = (
    "UMUM", "KEBIJAKAN AKUNTANSI", "KAS DAN SETARA KAS", "PIUTANG USAHA",
    "ASET TETAP", "PERPAJAKAN", "LIABILITAS", "EKUITAS", "PENDAPATAN",
)


def _rng(*parts) -> random.Random:
    """Independent stream per purpose: seeded from a digest of the parts,
    so adding one generator never shifts another's sequence."""
    h = hashlib.sha256(repr(parts).encode()).digest()
    return random.Random(int.from_bytes(h[:8], "big"))


def _money(rng: random.Random, lo: int, hi: int) -> Decimal:
    return Decimal(rng.randrange(lo * 100, hi * 100)) / 100


# ---------------------------------------------------------------- issuers


def issuers(seed: int, n: int) -> list[tuple[str, str]]:
    """``n`` distinct (4-letter code, entity name) pairs. About half the
    names already carry the 'PT ' prefix, the rest get it from the
    engine's metadata step."""
    rng = _rng("issuers", seed)
    codes: list[str] = []
    while len(codes) < n:
        c = "".join(rng.choice("ABCDEFGHIJKLMNOPRSTUW") for _ in range(4))
        if c not in codes:
            codes.append(c)
    out = []
    for i, c in enumerate(codes):
        name = f"{c.title()} Nusantara Tbk"
        out.append((c, f"PT {name}" if i % 2 else name))
    return out


def _item_name(g: int, i: int) -> str:
    # fixed-width id: no item name is a substring of another, so the
    # engine's contains() note match can only hit the intended item
    return f"Pos {g}{i:03d} {_ITEM_WORDS[(g * 7 + i) % len(_ITEM_WORDS)]}"


# ------------------------------------------------------ filings quarters


def filings_quarter(seed: int, year: int, quarter: int, iss, n_items: int):
    """One quarter of filings: per issuer a JSON workbook (general-info
    sheet + one sheet per statement group), one text PDF per statement
    group carrying note references under some items, and one CALK PDF.

    Returns ``(files, expect)``: ``files`` maps a relative path to bytes;
    ``expect`` holds the rows the three tables must receive."""
    rng = _rng("filings", seed, year, quarter)
    unique_q4 = quarter == 4
    files: dict[str, bytes] = {}
    facts: dict[tuple, list] = {}  # (code, grup, item) -> [name, nilai, notes]
    notes: list[tuple] = []  # (code, grup, item, pos, element)
    calk: dict[tuple, tuple] = {}  # (code, kode_calk) -> (heading, content)
    for code, raw_name in iss:
        nama = raw_name if raw_name[:2].upper() == "PT" else f"PT {raw_name}"
        wb = {
            "Informasi umum": [
                ["Kode entitas", code],
                ["Nama entitas", raw_name],
                ["Periode penyampaian laporan keuangan", _PERIODE[quarter]],
                ["Tanggal awal periode berjalan", f"{year}-01-01"],
            ]
        }
        for g, grup in enumerate(GROUPS):
            grid = [[grup, ""], ["Keterangan", "Nilai"], ["", ""]]
            pdf_lines = [grup.upper(), f"{nama} {year}", ""]
            for i in range(n_items):
                item = _item_name(g, i)
                blank = rng.random() < 0.05
                v = Decimal(0) if blank else _money(rng, 1, 900_000)
                grid.append([item, "" if blank else str(v)])
                nilai = v if unique_q4 else v * 1_000_000
                note = None
                if rng.random() < 0.3:
                    refs = [str(rng.randrange(1, 40))]
                    for _ in range(rng.choice((0, 0, 1, 2))):
                        ref = f"{rng.randrange(1, 40)}{rng.choice(('', 'a', 'b'))}"
                        if ref not in refs:
                            refs.append(ref)
                    note = ",".join(refs)
                pdf_lines.append(item)
                if note is not None:
                    pdf_lines.append(note)
                # value lines always carry a '.' or ',' so they never look
                # like a note reference nor sit inside an item name
                pdf_lines.append(f"{v:,.2f}")
                if i % 25 == 24:
                    pdf_lines.append("\f")
                row = [nama, nilai, None]
                if note is not None:
                    elems = note.split(",")
                    row[2] = elems[0]
                    for pos, e in enumerate(elems):
                        notes.append((code, grup, item, pos, e))
                        if pos:
                            # EP2 insert path: a zero-value row per extra ref
                            facts.setdefault(
                                (code, grup, f"{item} (nota {e})"), [nama, Decimal(0), e]
                            )
                facts[(code, grup, item)] = row
            wb[grup] = grid
            text = "\n".join(pdf_lines).replace("\n\f\n", "\f")
            files[f"stmt/{code}_{g}.pdf"] = text.encode()
        files[f"wb/{code}.json"] = json.dumps(wb, sort_keys=True).encode()
        cf, cx = _calk_doc(rng, code)
        files[f"calk/{code}.pdf"] = cf
        calk.update(cx)
    expect = {"year": year, "quarter": quarter, "facts": facts, "notes": notes, "calk": calk}
    return files, expect


def _calk_doc(rng: random.Random, code: str):
    """A CALK notes document and its expected sections. Grammar used:
    numeric uppercase headings (some continued on the next line),
    consecutive letter subsections, lowercase content lines; a few
    sections are left empty so the backward fill is exercised."""
    lines: list[str] = []
    sections: list[list] = []  # [key, heading, content]
    for n in range(1, rng.randrange(4, 8)):
        head = _CALK_HEADINGS[rng.randrange(len(_CALK_HEADINGS))]
        lines.append(f"{n}. {head}")
        heading = head
        if rng.random() < 0.3:
            lines.append("DAN INFORMASI LAINNYA")
            heading += " DAN INFORMASI LAINNYA"
        sec = [str(n), heading, []]
        sections.append(sec)
        for ln in _calk_content(rng, rng.randrange(0, 3)):
            lines.append(ln)
            sec[2].append(ln)
        for k in range(rng.randrange(0, 4)):
            letter = "abcdefghij"[k]
            sub = " ".join(rng.choice(_CALK_WORDS) for _ in range(2))
            lines.append(f"{letter}. {sub}")
            sec = [f"{n}{letter}", sub, []]
            sections.append(sec)
            for ln in _calk_content(rng, rng.randrange(0, 3)):
                lines.append(ln)
                sec[2].append(ln)
        if n % 3 == 0:
            lines.append("\f")
    expect = {}
    fill = "-"
    for key, heading, content in reversed(sections):
        text = " ".join(content)
        if text:
            fill = text
        expect[(code, key)] = (heading, text or fill)
    body = "\n".join(lines).replace("\n\f\n", "\f").replace("\n\f", "\f")
    return body.encode(), expect


def _calk_content(rng: random.Random, n: int) -> list[str]:
    return [" ".join(rng.choice(_CALK_WORDS) for _ in range(rng.randrange(3, 9))) for _ in range(n)]


def restatement(seed: int, expect: dict, batch: int) -> tuple[bytes, dict]:
    """Restatement batch number ``batch`` for one ingested quarter: new
    values for about a tenth of its statement rows plus a few rows the
    filing lacked, as JSON lines. ``expect["facts"]`` is the fact map
    before the merge. Returns (file bytes, the fact map after it)."""
    rng = _rng("restate", seed, expect["year"], expect["quarter"], batch)
    merged = {k: list(v) for k, v in expect["facts"].items()}
    out = []
    keys = sorted(k for k in merged if "(nota" not in k[2])
    for k in rng.sample(keys, max(1, len(keys) // 10)):
        v = _money(rng, 1, 900_000) * 1_000_000
        merged[k] = [merged[k][0], v, merged[k][2]]
        out.append((k, merged[k]))
    for code, grup, _ in rng.sample(keys, 3):
        k = (code, grup, f"Pos 9{rng.randrange(1000):03d} penyajian kembali")
        if k in merged:
            continue
        name = next(v[0] for kk, v in merged.items() if kk[0] == code)
        merged[k] = [name, _money(rng, 1, 900_000), "99"]
        out.append((k, merged[k]))
    lines = [
        json.dumps(
            {
                "kode_emiten": code,
                "nama_emiten": name,
                "tahun": expect["year"],
                "quartal": expect["quarter"],
                "grup_laporan_keuangan": grup,
                "item": item,
                "nilai": str(nilai),
                "notes": notes,
            },
            sort_keys=True,
        )
        for (code, grup, item), (name, nilai, notes) in sorted(out)
    ]
    return ("\n".join(lines) + "\n").encode(), merged


# ------------------------------------------------------------------ corpus

_VOCAB = (
    "data", "table", "query", "spark", "join", "scan", "filter", "group", "value",
    "stream", "batch", "window", "merge", "order", "line", "part", "key", "hash",
    "row", "column", "vector", "agg", "sort", "fast", "slow", "small", "big",
    "customer", "report", "ledger", "asset", "equity", "cash", "note", "audit",
    "the", "a",
)

DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)

N_SOURCES = 20


def _text(rng: random.Random) -> str:
    n = rng.randrange(8, 100)
    return " ".join(rng.choice(_VOCAB) for _ in range(n))


def _near_dup(rng: random.Random, text: str) -> str:
    toks = text.split(" ")
    for _ in range(max(1, len(toks) // 20)):
        toks[rng.randrange(len(toks))] = rng.choice(_VOCAB)
    return " ".join(toks)


def corpus_docs(seed: int, n_docs: int, start_id: int = 0, parents: list | None = None) -> list[tuple]:
    """Documents with planted duplicate clusters: exact copies (same
    bytes), case variants (equal after canonicalisation only) and near
    duplicates (a few words changed). With ``parents`` (an earlier batch)
    the copies point back into it — the delta's new-and-near-dup mix."""
    rng = _rng("corpus", seed, start_id)
    pool = list(parents or [])
    docs: list[tuple] = []
    for k in range(n_docs):
        doc_id = start_id + k
        roll = rng.random()
        if pool and roll < 0.06:
            text = rng.choice(pool)[1]
        elif pool and roll < 0.09:
            text = rng.choice(pool)[1].upper()
        elif pool and roll < 0.15:
            text = _near_dup(rng, rng.choice(pool)[1])
        else:
            text = _text(rng)
        src = f"src{rng.randrange(N_SOURCES)}"
        lang = rng.choice(("en", "en", "de", "fr", "es", "zh"))
        d = (doc_id, text, lang, src, len(text))
        docs.append(d)
        pool.append(d)
    return docs


def docs_parquet(docs: list[tuple]) -> bytes:
    table = pa.Table.from_pylist([dict(zip(DOC_SCHEMA.names, d)) for d in docs], schema=DOC_SCHEMA)
    buf = io.BytesIO()
    pq.write_table(table, buf)
    return buf.getvalue()


def _canon_key(text: str) -> str:
    t = unicodedata.normalize("NFC", text.lower())
    return re.sub(r"\s+", " ", t).strip()


def corpus_clean_expect(docs: list[tuple]) -> dict:
    """Per-source retention the clean pipeline must report: canonical =
    smallest doc_id per canonical text; quality = >= 20 space-split tokens
    with a 'the'/'a' share under 0.3."""
    canon: dict[str, int] = {}
    for doc_id, text, *_ in docs:
        k = _canon_key(text)
        canon[k] = min(canon.get(k, doc_id), doc_id)
    out: dict[str, list] = {}
    for doc_id, text, _lang, src, n_chars in docs:
        toks = text.split(" ")
        good = len(toks) >= 20 and sum(t in ("the", "a") for t in toks) / len(toks) < 0.3
        is_canon = canon[_canon_key(text)] == doc_id
        s = out.setdefault(src, [0, 0, 0, 0, 0, 0])
        s[0] += 1
        s[1] += is_canon
        s[2] += is_canon and good
        s[3] += not is_canon
        s[4] += is_canon and not good
        s[5] += n_chars if is_canon and good else 0
    return {k: tuple(v) for k, v in out.items()}


def exact_dup_pairs(docs: list[tuple]) -> set[tuple[int, int]]:
    """Every pair of byte-identical texts: identical shingle sets give
    identical minhash signatures, so LSH must return each pair."""
    by_text: dict[str, list[int]] = {}
    for doc_id, text, *_ in docs:
        by_text.setdefault(text, []).append(doc_id)
    return {
        (a, b)
        for ids in by_text.values()
        for i, a in enumerate(sorted(ids))
        for b in sorted(ids)[i + 1:]
    }
