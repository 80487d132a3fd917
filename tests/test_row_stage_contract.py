"""One row contract for every row-local Python operator outside the
parse family (pdf, multimodal, textstats, WARC/WET).

Each operator gets a small input with a valid row plus its NULL-payload
and corrupt-payload rows. The exact output rows and the schema (names,
types, order) are pinned, so the typed error rows (``PdfError`` rows
keep ``n_bytes``, a broken blob is one error row carrying its id, a
NULL payload is skipped or becomes ``"null payload"``) cannot drift.
Binary values are compared as (length, md5)."""

import hashlib

import pytest

from html5ever_elixir_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    docs_to_dhash_pnms,
    docs_to_gifs,
    docs_to_wavs,
    docs_to_webps,
    extract_media_features,
    image_dhash,
    make_wav_pcm16,
    sample_frames,
)
from html5ever_elixir_spark.operators.pdf import docs_to_pdfs, pdf_extract
from html5ever_elixir_spark.operators.textstats import (
    fix_mojibake,
    nfc_normalize_docs,
)
from html5ever_elixir_spark.parser.pdf import make_simple_pdf
from html5ever_elixir_spark.sources.warc import (
    make_warc,
    make_warc_record,
    make_wet,
    warc_to_pages,
    wet_to_text,
)

_N = None
DOCS = ("doc_id bigint, text string",
        [(1, "hello wide world"), (2, None), (3, "café 中")])
PNM = b"P5 9 8 255\n" + bytes(range(72))
TRUNCATED_PNM = b"P5 9 8 255\n\x00"
MEDIA = ("media_id bigint, payload binary",
         [(1, PNM), (2, None), (3, TRUNCATED_PNM), (4, b"")])
_RECS = [
    (f"https://{h}.example/", f"2024-01-0{i + 1}T00:00:00Z",
     f"<p>{h}</p>".encode())
    for i, h in enumerate("abd")
]
# a response whose entity uses an encoding with no stdlib decoder: one
# per-record error row carrying its url (same-length header swap)
_BROTLI = make_warc_record(
    "https://c.example/", "2024-01-03T00:00:00Z", b"<p>c</p>"
).replace(b"Content-Type: text/html; charset=utf-8\r\n",
          b"Content-Encoding: br".ljust(38) + b"\r\n")
WARCS = ("warc_id bigint, content binary", [
    (1, make_warc(_RECS, http_encode=True) + _BROTLI),
    (2, None),
    (3, b"not a warc"),
    # gzip members then junk: the records before the break are kept
    (4, make_warc(_RECS[:2], gzip_records=True) + b"junk"),
])
WETS = ("wet_id bigint, content binary", [
    (1, make_wet([("https://a.example/", "2024-01-01T00:00:00Z", "alpha"),
                  ("https://b.example/", "2024-01-02T00:00:00Z", "beta")])),
    (2, None),
    (3, b"not a warc"),
])
NOT_WARC = "expected WARC/ version line at offset 0"


def _bin(n, md5):
    return ("bin", n, md5)


CASES = {
    "pdf_extract": (
        pdf_extract,
        ("doc_id bigint, pdf binary",
         [(1, make_simple_pdf(["hello world"])), (2, None),
          (3, b"not a pdf")]),
        "struct<doc_id:bigint,error:string,text:string,n_pages:bigint,"
        "n_bytes:bigint>",
        [
            (1, _N, "hello world", 1, 614),
            (2, "null payload", _N, _N, 0),
            (3, "missing %PDF header", _N, _N, 9),
        ],
    ),
    "docs_to_pdfs": (
        docs_to_pdfs, DOCS,
        "struct<doc_id:bigint,pdf:binary>",
        [
            (1, _bin(619, "460253883484101b0409521dace6c811")),
            (2, _bin(603, "e1d88fc53e2a3e0c880b409ddd6e84ab")),
            (3, _bin(628, "c000dfe1132c065cf5f28bb1ff5d88cd")),
        ],
    ),
    # odd and even ids take different paths; a NULL, empty or too-wide
    # text (no 1-row image: GIF widths are uint16, VP8L 14-bit) is a
    # NULL payload, not a failed task
    "docs_to_gifs": (
        docs_to_gifs,
        ("doc_id bigint, text string", [(1, "hello wide world"),
                                        (4, "café 中"), (5, None),
                                        (6, ""), (7, "x" * 65536)]),
        "struct<media_id:bigint,payload:binary>",
        [
            (1, _bin(815, "e89a2f36af500283c708eac17fc2b585")),
            (4, _bin(823, "74107409b0bc6028888f66139e41ffb9")),
            (5, _N),
            (6, _N),
            (7, _N),
        ],
    ),
    "docs_to_webps": (
        docs_to_webps,
        ("doc_id bigint, text string", [(1, "hello wide world"),
                                        (4, "café 中"), (5, None),
                                        (6, ""), (7, "x" * 16385)]),
        "struct<media_id:bigint,payload:binary>",
        [
            (1, _bin(160, "dd2a529a7f7270753b9a7dd32b4fa07c")),
            (4, _bin(70, "4345027b532c578ff2b2e949225d0bf4")),
            (5, _N),
            (6, _N),
            (7, _N),
        ],
    ),
    "docs_to_wavs": (
        docs_to_wavs, DOCS,
        "struct<media_id:bigint,payload:binary>",
        [
            (1, _bin(76, "e7228690f06dbe913d4ba01f391665f1")),
            (2, _bin(44, "d9f5c6a48bfefddab36ca46559aaa670")),
            (3, _bin(62, "80343fb1c0230f856a9403b9ca769f5a")),
        ],
    ),
    "docs_to_dhash_pnms": (
        docs_to_dhash_pnms, DOCS,
        "struct<media_id:bigint,payload:binary>",
        [
            (1, _bin(301, "e67733d565a0eb307f3f46ce67bfa30e")),
            (2, _bin(83, "4e6d3845be003ab611a405dac6eb718a")),
            (3, _bin(301, "256f098a4c931b823f8a7a408841dacb")),
        ],
    ),
    "image_dhash": (
        image_dhash, MEDIA,
        "struct<media_id:bigint,width:bigint,height:bigint,"
        "dhash_hi:bigint,dhash_lo:bigint,decode_error:string>",
        [
            (1, 9, 8, 0, 0, _N),
            (2, _N, _N, _N, _N, "null payload"),
            (3, _N, _N, _N, _N, "truncated PNM pixel data"),
            (4, _N, _N, _N, _N, "unrecognized raster magic"),
        ],
    ),
    "sample_frames": (
        lambda df: sample_frames(df, n_frames=2), MEDIA,
        "struct<media_id:bigint,frame_idx:bigint,n_bytes:bigint,"
        "frame_sha256:string>",
        [
            (1, 0, 41, "812a72c91b7635f93d48c2de962f0e45"
                       "c1839810f016b0691ef60378b832cee8"),
            (1, 1, 42, "15391d17767651245def6c18e9c96683"
                       "23b097666b6c344ae8a1f2598e535064"),
            (3, 0, 6, "4358ce60c688ec55bd94ff13baf9e18a"
                      "9ba71bdc45844d89bccaf17014f91614"),
            (3, 1, 6, "2ec7af5f9ef73aee7491829a167b824e"
                      "1669631ddc404c5d2ae9b6ddf35aa2ab"),
            (4, 0, 0, "e3b0c44298fc1c149afbf4c8996fb924"
                      "27ae41e4649b934ca495991b7852b855"),
            (4, 1, 0, "e3b0c44298fc1c149afbf4c8996fb924"
                      "27ae41e4649b934ca495991b7852b855"),
        ],
    ),
    "extract_media_features": (
        extract_media_features,
        (MEDIA_SCHEMA, [
            (1, "image", PNM, (9, 8, "image/x-portable-graymap")),
            (2, "audio", make_wav_pcm16([0, 1000, -1000, 32767]), _N),
            (3, "image", _N, _N),
            (4, "image", TRUNCATED_PNM, _N),
            (5, "audio", b"RIFF\x00", _N),
        ]),
        "struct<media_id:bigint,kind:string,n_bytes:bigint,sha256:string,"
        "feature:array<double>,decode_error:string>",
        [
            (1, "image", 83, "90e6a1a43381312a3dc763019dab94dd"
                             "2cfe987d2da1d172014f1a906c668e12",
             [0.11267605633802817, 0.11619718309859155,
              0.11971830985915492, 0.12323943661971831,
              0.1267605633802817, 0.13028169014084506,
              0.13380281690140844, 0.13732394366197184], _N),
            (2, "audio", 52, "5f06c549f9f934174c183af487796e85"
                             "eeaf3519259a9f53efd5bca8657f5ddb",
             [0.0, 0.0, 0.0, 0.030518, 0.0, 0.030518, 0.0, 0.999969], _N),
            (3, "image", 0, _N, _N, "null payload"),
            (4, "image", 12, "65e634cabb01d5b6585e111b0af3b737"
                             "b6df7b3fbd2a12aada2b692995c7159f",
             _N, "truncated PNM pixel data"),
            # unrecognized audio falls back to the byte-histogram stub
            (5, "audio", 5, "b81ffe9a0176b5888a4651d91e4af16b"
                            "c4d56f4a24edc8e5b3126b46ebd112b5",
             [0.277966, 0.247458, 0.237288, 0.237288, 0.0, 0.0, 0.0, 0.0],
             _N),
        ],
    ),
    "nfc_normalize_docs": (
        nfc_normalize_docs,
        ("doc_id bigint, text string",
         [(1, "café"), (2, None), (3, "plain")]),
        "struct<doc_id:bigint,text_nfc:string,changed:boolean,"
        "n_chars_before:bigint,n_chars_after:bigint>",
        [
            (1, "café", True, 5, 4),
            (2, _N, _N, _N, _N),
            (3, "plain", False, 5, 5),
        ],
    ),
    "fix_mojibake": (
        fix_mojibake,
        ("doc_id bigint, text string",
         [(1, "cafÃ©"), (2, None), (3, "plain")]),
        "struct<doc_id:bigint,text_fixed:string,n_passes:bigint>",
        [(1, "café", 1), (2, "", 0), (3, "plain", 0)],
    ),
    # the id column keeps its own Spark type (a string id used to fail
    # the task: the output declared it bigint)
    "fix_mojibake_string_id": (
        lambda df: fix_mojibake(df, id_col="url"),
        ("url string, text string", [("u1", "cafÃ©"), ("u2", None)]),
        "struct<url:string,text_fixed:string,n_passes:bigint>",
        [("u1", "café", 1), ("u2", "", 0)],
    ),
    "warc_to_pages": (
        warc_to_pages, WARCS,
        "struct<url:string,warc_ts:string,html:binary,warc_id:bigint,"
        "http_status:int,error:string>",
        [
            ("https://a.example/", "2024-01-01T00:00:00Z",
             _bin(8, "9fb83da5876b087ddc72927b565f223a"), 1, 200, _N),
            ("https://a.example/", "2024-01-01T00:00:00Z",
             _bin(8, "9fb83da5876b087ddc72927b565f223a"), 4, 200, _N),
            ("https://b.example/", "2024-01-02T00:00:00Z",
             _bin(8, "db85e08f6654df1dff03cb0a907e28db"), 1, 200, _N),
            ("https://b.example/", "2024-01-02T00:00:00Z",
             _bin(8, "db85e08f6654df1dff03cb0a907e28db"), 4, 200, _N),
            ("https://c.example/", "2024-01-03T00:00:00Z", _N, 1, 200,
             "unsupported content-encoding: br"),
            ("https://d.example/", "2024-01-03T00:00:00Z",
             _bin(8, "6f2e09ec27c9e7801433bd861c72cb80"), 1, 200, _N),
            (_N, _N, _N, 2, _N, "null payload"),
            (_N, _N, _N, 3, _N, NOT_WARC),
            (_N, _N, _N, 4, _N, "trailing garbage after gzip members"),
        ],
    ),
    "wet_to_text": (
        wet_to_text, WETS,
        "struct<url:string,warc_ts:string,text:string,wet_id:bigint,"
        "error:string>",
        [
            ("https://a.example/", "2024-01-01T00:00:00Z", "alpha", 1, _N),
            ("https://b.example/", "2024-01-02T00:00:00Z", "beta", 1, _N),
            (_N, _N, _N, 2, "null payload"),
            (_N, _N, _N, 3, NOT_WARC),
        ],
    ),
}


def _norm(v):
    if isinstance(v, (bytes, bytearray)):
        return _bin(len(v), hashlib.md5(bytes(v)).hexdigest())
    return v


@pytest.mark.parametrize("name", list(CASES))
def test_row_stage_contract(spark, name):
    op, (in_schema, rows), schema, expected = CASES[name]
    df = spark.createDataFrame(
        [tuple(bytearray(v) if isinstance(v, bytes) else v for v in r)
         for r in rows],
        in_schema,
    )
    out = op(df)
    assert out.schema.simpleString() == schema
    got = [tuple(_norm(v) for v in r) for r in out.collect()]
    # warc_to_pages spreads blobs round-robin: row order is not defined
    assert sorted(got, key=repr) == sorted(expected, key=repr)
