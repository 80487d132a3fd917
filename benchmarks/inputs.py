"""Seeded input generators for the three benchmark workloads.

Everything here is a pure function of ``(seed, size)``: the same seed
gives byte-identical inputs. The program under test only ever sees the
files these functions write (a documents parquet, a pages parquet, a
directory of WARC files); the expected counts they return are what the
correctness checks compare against.
"""

from __future__ import annotations

import os
import random
import statistics
import zlib

import pyarrow as pa
import pyarrow.parquet as pq

# the 30-word vocabulary (plus its rare "dup" marker) of the generated
# ``documents.parquet`` tables the repo's scale factors use; keeping it
# means the small pages have the same shape as the bench.py corpus
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")

# non-ASCII prose for the realistic pages: exercises the UTF-8 gate and
# the tokenizer's text runs with multi-byte code points
PROSE = VOCAB + [
    "café", "naïve", "über", "façade", "résumé", "déjà", "straße", "niño",
    "smörgåsbord", "fiancée", "coöperate", "Ελλάδα", "данные", "数据",
    "検索", "데이터", "—", "“quoted”",
]
ENTITIES = ("&amp;", "&copy;", "&eacute;", "&mdash;", "&#8217;", "&#x2014;",
            "&lt;", "&gt;", "&nbsp;", "&hellip;")


def _words(rng: random.Random, vocab: list[str], lo: int, hi: int) -> str:
    return " ".join(rng.choice(vocab) for _ in range(rng.randint(lo, hi)))


# ---------------------------------------------------------------------------
# extract_small: a documents table for sources.pages.pages_from_documents


def write_documents(out_dir: str, seed: int, n_docs: int, n_files: int) -> dict:
    """Write ``{out_dir}/documents.parquet/part-*.parquet`` with the
    schema of the repo's generated documents tables (doc_id, text, lang,
    source, n_chars). Several files, so the scan has one split per file
    and all cores get work."""
    rng = random.Random(f"documents/{seed}")
    texts = []
    for _ in range(n_docs):
        t = _words(rng, VOCAB, 8, 100)
        if rng.random() < 0.005:
            t += " dup"
        texts.append(t)
    path = os.path.join(out_dir, "documents.parquet")
    os.makedirs(path, exist_ok=True)
    table = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    step = -(-n_docs // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:04d}.parquet"))
    # page sizes are measured on the built pages (workloads.ExtractSmall)
    return {"docs": n_docs, "invalid_rows": 0}


# ---------------------------------------------------------------------------
# extract_large / crawl_job: realistic pages

# Shares of the recovery-path defects (each page draws each
# independently). Assumed stress shares, not matched to real traffic:
# each is high enough that every job takes the recovery path many times.
MALFORMED_SHARES = {
    "misnested_formatting": 0.15,  # adoption agency
    "stray_table_text": 0.10,      # foster parenting
    "unclosed_p_li": 0.20,         # implied end tags
    "script_comment_open": 0.10,   # '<!--' inside <script> (escaped states)
}
INVALID_UTF8_SHARE = 0.01  # assumed, like the shares above


def _paragraph(rng: random.Random, page: int) -> str:
    parts = []
    for _ in range(rng.randint(3, 7)):
        r = rng.random()
        if r < 0.25:
            parts.append(f'<a href="/p/{page}/{rng.randint(0, 999)}">'
                         f"{_words(rng, PROSE, 1, 4)}</a>")
        elif r < 0.4:
            parts.append(rng.choice(ENTITIES))
        elif r < 0.5:
            tag = rng.choice(("b", "i", "em", "strong", "code"))
            parts.append(f"<{tag}>{_words(rng, PROSE, 1, 5)}</{tag}>")
        parts.append(_words(rng, PROSE, 6, 30))
    return " ".join(parts)


def _table(rng: random.Random, stray: bool) -> str:
    cols = rng.randint(3, 6)
    head = "".join(f"<th>{rng.choice(VOCAB)}</th>" for _ in range(cols))
    rows = []
    for r in range(rng.randint(4, 12)):
        cells = "".join(f"<td>{rng.randint(0, 99999)} {rng.choice(PROSE)}</td>"
                        for _ in range(cols))
        rows.append(f"<tr>{cells}</tr>")
        if stray and r == 1:
            rows.append(f"stray {_words(rng, VOCAB, 2, 6)} ")
    return (f'<table class="data"><thead><tr>{head}</tr></thead>'
            f"<tbody>{''.join(rows)}</tbody></table>")


def realistic_page(rng: random.Random, page: int, target: int) -> tuple[str, list[str]]:
    """One page of about ``target`` characters: head scripts and styles,
    a nav list, sections of paragraphs with links and entities, tables
    and an ad sidebar. Returns (html, defects drawn)."""
    defects = [k for k, share in MALFORMED_SHARES.items() if rng.random() < share]
    title = _words(rng, PROSE, 3, 8)
    script = ("var cfg = {id: %d, tags: ['a', 'b']}; if (cfg.id < 10 && cfg.id > 2) "
              "{ console.log(cfg); }" % page)
    if "script_comment_open" in defects:
        script += ' var m = "<!--"; document.write("<p>" + m + "</p>");'
    head = (
        f'<head><meta charset="utf-8"><title>{title}</title>'
        f"<script>{script}</script>"
        "<style>body{margin:0;font:14px sans-serif}.nav li{display:inline}"
        ".ad{float:right;width:300px}table.data td{padding:2px}</style>"
        '<link rel="stylesheet" href="/s/site.css"></head>'
    )
    nav = "".join(f'<li><a href="/section/{i}">{rng.choice(VOCAB)} {i}</a></li>'
                  for i in range(rng.randint(6, 14)))
    out = [
        f'<!DOCTYPE html><html lang="en">{head}<body>'
        f'<header><nav class="nav"><ul>{nav}</ul></nav></header>'
        f"<main><article><h1>{title}</h1>"
    ]
    size = sum(map(len, out))
    sec = 0
    while size < target:
        sec += 1
        body = [f'<section id="s{sec}"><h2>{_words(rng, PROSE, 2, 6)}</h2>']
        for _ in range(rng.randint(2, 5)):
            if "unclosed_p_li" in defects and rng.random() < 0.3:
                body.append(f"<p>{_paragraph(rng, page)}")
            else:
                body.append(f"<p>{_paragraph(rng, page)}</p>")
        if "misnested_formatting" in defects and rng.random() < 0.5:
            body.append(f"<p><b>{rng.choice(VOCAB)}<i>{rng.choice(VOCAB)}</b>"
                        f"{rng.choice(VOCAB)}</i> {rng.choice(VOCAB)}</p>")
        if rng.random() < 0.3:
            body.append(_table(rng, "stray_table_text" in defects))
        if rng.random() < 0.3:
            close = "" if "unclosed_p_li" in defects else "</li>"
            items = "".join(f"<li>{_words(rng, PROSE, 3, 9)}{close}"
                            for _ in range(rng.randint(3, 7)))
            body.append(f"<ul>{items}</ul>")
        body.append("</section>")
        chunk = "".join(body)
        out.append(chunk)
        size += len(chunk)
    ads = "".join(f'<div class="ad"><a href="https://ads.example/{rng.randint(0, 9999)}">'
                  f"{_words(rng, VOCAB, 2, 5)}</a></div>" for _ in range(rng.randint(2, 5)))
    out.append(f'</article><aside class="sidebar">{ads}</aside></main>'
               f"<footer>copyright {rng.choice(VOCAB)} host</footer></body></html>")
    return "".join(out), defects


def _invalidate(rng: random.Random, html: bytes) -> bytes:
    """Splice a truncated 2-byte sequence into the body: invalid UTF-8."""
    at = rng.randint(len(html) // 3, 2 * len(html) // 3)
    return html[:at] + b"\xc3\x28" + html[at:]


def size_stats(sizes: list[int]) -> dict:
    ordered = sorted(sizes)
    return {
        "docs": len(ordered),
        "bytes": sum(ordered),
        "page_bytes_median": statistics.median(ordered),
        "page_bytes_p99": ordered[min(len(ordered) - 1, int(0.99 * len(ordered)))],
    }


def write_large_pages(out_dir: str, seed: int, n_docs: int, n_files: int,
                      lo: int = 21_000, hi: int = 29_000) -> dict:
    """Write ``{out_dir}/pages/part-*.parquet`` (url string, html binary).
    About 1% of rows are invalid UTF-8 (the parse operator's error
    path); the rest decode strictly."""
    rng = random.Random(f"large/{seed}")
    urls, htmls, invalid = [], [], 0
    defect_counts = dict.fromkeys(MALFORMED_SHARES, 0)
    for i in range(n_docs):
        html, defects = realistic_page(rng, i, rng.randint(lo, hi))
        for d in defects:
            defect_counts[d] += 1
        data = html.encode("utf-8")
        if rng.random() < INVALID_UTF8_SHARE:
            data = _invalidate(rng, data)
            invalid += 1
        urls.append(f"https://host{i % 37}.example/a/{seed}/{i}")
        htmls.append(data)
    path = os.path.join(out_dir, "pages")
    os.makedirs(path, exist_ok=True)
    table = pa.table({"url": urls, "html": pa.array(htmls, pa.binary())})
    step = -(-n_docs // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:04d}.parquet"))
    return {**size_stats([len(h) for h in htmls]), "invalid_rows": invalid,
            "defects": defect_counts}


# ---------------------------------------------------------------------------
# crawl_job: WARC files with per-record gzip members

# Assumed stress shares, not matched to real traffic: enough duplicate
# captures and non-200 records that the latest-capture window and the
# status filter drop rows in every job.
DUPLICATE_SHARE = 0.10   # extra capture of an already-seen url
NON_200_SHARE = 0.06     # records with a 404/301/500 status line
# (WHATWG label declared in <meta>, Python codec used to encode) -> share
# of pages. UTF-8 at about 98%, as W3Techs' character-encoding usage
# survey reports for websites; the other 2% are legacy labels, ISO-8859-1
# the largest, split roughly as that survey ranks them. None declares
# nothing (an assumed share): bytes are cp1252 and the sniff falls back
# to it.
CHARSET_SHARES = {
    ("utf-8", "utf-8"): 0.980,
    ("iso-8859-1", "cp1252"): 0.010,
    ("windows-1252", "cp1252"): 0.003,
    ("shift_jis", "cp932"): 0.002,
    ("euc-kr", "cp949"): 0.001,
    ("gbk", "gb18030"): 0.001,
    (None, "cp1252"): 0.003,
}


def _reencode(html: str, label: str | None, codec: str) -> bytes:
    declared = f'<meta charset="{label}">' if label else ""
    html = html.replace('<meta charset="utf-8">', declared, 1)
    return html.encode(codec, errors="xmlcharrefreplace")


def _gz(b: bytes) -> bytes:
    co = zlib.compressobj(6, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
    return co.compress(b) + co.flush()


def write_warcs(out_dir: str, seed: int, n_urls: int, n_files: int,
                lo: int = 2_000, hi: int = 5_000) -> dict:
    """Write ``{out_dir}/warc/crawl-*.warc.gz``: a warcinfo record, then
    response records as per-record gzip members (the Common Crawl
    layout), re-encoded to the charset mix above, with duplicate
    captures of the same url and non-200 records at the shares above.
    Returns the expected counts the crawl job's checks use."""
    from html5ever_elixir_spark.sources.warc import make_warc_record

    rng = random.Random(f"crawl/{seed}")
    records = []  # [url, capture second, body bytes, status line]
    for i in range(n_urls):
        html, _ = realistic_page(rng, i, rng.randint(lo, hi))
        label, codec = rng.choices(list(CHARSET_SHARES),
                                   weights=list(CHARSET_SHARES.values()))[0]
        url = f"https://host{i % 23}.example/c/{seed}/{i}"
        records.append([url, i, _reencode(html, label, codec), "200 OK"])
        if rng.random() < DUPLICATE_SHARE:
            # a later capture of the same url with changed content
            html2, _ = realistic_page(rng, i, rng.randint(lo, hi))
            records.append([url, i + n_urls, _reencode(html2, label, codec),
                            "200 OK"])
    for rec in records:
        if rng.random() < NON_200_SHARE:
            rec[3] = rng.choice(("404 Not Found", "301 Moved Permanently",
                                 "500 Internal Server Error"))
    rng.shuffle(records)
    info_body = b"software: benchmark generator\r\n"
    info = (
        "WARC/1.0\r\nWARC-Type: warcinfo\r\n"
        "Content-Type: application/warc-fields\r\n"
        f"Content-Length: {len(info_body)}\r\n\r\n"
    ).encode("ascii") + info_body + b"\r\n\r\n"
    path = os.path.join(out_dir, "warc")
    os.makedirs(path, exist_ok=True)
    step = -(-len(records) // n_files)
    blob_bytes = 0
    for f in range(n_files):
        members = [_gz(info)]
        for url, sec, html, status in records[f * step:(f + 1) * step]:
            date = f"2024-01-{1 + sec // 86400:02d}T{sec // 3600 % 24:02d}:" \
                   f"{sec // 60 % 60:02d}:{sec % 60:02d}Z"
            members.append(_gz(make_warc_record(url, date, html,
                                                http_status=status)))
        blob = b"".join(members)
        blob_bytes += len(blob)
        with open(os.path.join(path, f"crawl-{f:04d}.warc.gz"), "wb") as fh:
            fh.write(blob)
    ok_urls = {r[0] for r in records if r[3] == "200 OK"}
    return {
        **size_stats([len(r[2]) for r in records]),  # docs = response records
        "records_200": sum(r[3] == "200 OK" for r in records),
        "warc_bytes": blob_bytes,
        "expected_docs": len(ok_urls),
        "invalid_rows": 0,
    }
