"""Round-5 regression tests: the neardup_pairs block-size cap (the r4
verdict's one `weak` — an uncapped quadratic self-join on a hot block),
plus the three code-level ADVICE items (empty ToUnicode mappings, string
literals inside balanced-dict scans, rounded temperature-mix rates)."""

import zlib

import pytest

from tests.test_pdf_fonts import _font_pdf, _obj, _stream_obj


# -- neardup_pairs block cap (r4 verdict "What's wrong" #1) -----------------

def _emb_df(spark, big=10, small=3, cap_excluded_only=False):
    # one oversized block of identical vectors (worst case: B²/2 pairs)
    # and one small block of identical vectors
    rows = [(i, [1.0, 0.0], "big") for i in range(big)]
    if not cap_excluded_only:
        rows += [(100 + i, [0.0, 1.0], "small") for i in range(small)]
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label string"
    )


def test_neardup_pairs_cap_semantics(spark):
    from html5ever_elixir_spark.operators.similarity import neardup_pairs

    emb = _emb_df(spark)
    capped = neardup_pairs(emb, threshold=0.9, max_block=5).collect()
    # the 10-row block exceeds the cap → contributes NO pairs; the
    # 3-row block is under it → its 3 pairs survive
    assert sorted((r.id_a, r.id_b) for r in capped) == [
        (100, 101), (100, 102), (101, 102)
    ]
    uncapped = neardup_pairs(emb, threshold=0.9, max_block=None).collect()
    assert len(uncapped) == 10 * 9 // 2 + 3


def test_neardup_pairs_cap_plan_reuses_exchange(spark):
    from html5ever_elixir_spark.operators.similarity import neardup_pairs

    out = neardup_pairs(_emb_df(spark), threshold=0.9, max_block=5)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    # the cap window partitions on the join key itself: ONE
    # hashpartitioning exchange NODE (the ReusedExchange line re-prints
    # the name of the exchange it reuses — count plan nodes, not
    # substrings); the second join side reuses it instead of recomputing
    # the scan+window lineage
    exchange_nodes = [
        ln
        for ln in final.splitlines()
        if ln.lstrip("+-: *()0123456789").startswith("Exchange hashpartitioning")
    ]
    assert len(exchange_nodes) == 1, final
    assert "ReusedExchange" in final, final


def test_neardup_clusters_oversized_block_vectors_self_label(spark):
    from html5ever_elixir_spark.operators.similarity import neardup_clusters

    emb = _emb_df(spark)
    got = {
        r.vec_id: r.cluster_id
        for r in neardup_clusters(
            emb, threshold=0.9, max_iter=4, max_block=5
        ).collect()
    }
    # capped-out vectors are still PRESENT (only their edges are
    # suppressed) and label themselves; the small block clusters to its
    # min id
    assert all(got[i] == i for i in range(10))
    assert got[100] == got[101] == got[102] == 100


def test_neardup_oracle_mirrors_cap(spark):
    import duckdb

    from html5ever_elixir_spark.operators.similarity import (
        neardup_pairs,
        oracle_neardup_sql,
    )

    emb = _emb_df(spark)
    spark_rows = sorted(
        (r.id_a, r.id_b, r.sim)
        for r in neardup_pairs(emb, threshold=0.9, max_block=5).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE embeddings AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, [1.0, 0.0]::DOUBLE[], 'big')" for i in range(10)
        )
        + ", "
        + ", ".join(
            f"({100 + i}, [0.0, 1.0]::DOUBLE[], 'small')" for i in range(3)
        )
        + ") t(vec_id, embedding, label)"
    )
    oracle_rows = sorted(
        tuple(r)
        for r in con.execute(
            oracle_neardup_sql(threshold=0.9, max_block=5)
        ).fetchall()
    )
    assert spark_rows == oracle_rows


# -- PDF: empty ToUnicode mapping survives (ADVICE r4 #1) -------------------

def test_tounicode_empty_mapping_drops_glyph():
    # <41> <> deliberately maps 'A' to NOTHING (fonts use this for
    # ornaments/soft hyphens); the chr(0x41) fallback must not reinstate
    # it — only MISSING codes fall back
    cmap = (
        b"begincmap\n"
        b"1 begincodespacerange <00> <FF> endcodespacerange\n"
        b"2 beginbfchar\n<41> <>\n<42> <0042>\nendbfchar\n"
        b"endcmap\n"
    )
    fonts = _obj(5, b"<< /Type /Font /ToUnicode 6 0 R >>") + _stream_obj(
        6, zlib.compress(cmap), b" /Filter /FlateDecode"
    )
    from html5ever_elixir_spark.parser.pdf import extract_pdf_text

    text, _ = extract_pdf_text(
        _font_pdf(b"BT /F1 10 Tf (ABC) Tj ET", fonts, b"/F1 5 0 R")
    )
    # A dropped by the empty mapping, B mapped, C falls back to chr
    assert text == "BC"


def test_tounicode_empty_mapping_two_byte():
    cmap = (
        b"begincmap\n"
        b"1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
        b"2 beginbfchar\n<0041> <>\n<0042> <0062>\nendbfchar\n"
        b"endcmap\n"
    )
    fonts = _obj(
        5,
        b"<< /Type /Font /Subtype /Type0 /Encoding /Identity-H"
        b" /ToUnicode 6 0 R >>",
    ) + _stream_obj(6, zlib.compress(cmap), b" /Filter /FlateDecode")
    from html5ever_elixir_spark.parser.pdf import extract_pdf_text

    text, _ = extract_pdf_text(
        _font_pdf(b"BT /F1 10 Tf (\x00A\x00B) Tj ET", fonts, b"/F1 5 0 R")
    )
    assert text == "b"


# -- PDF: strings inside balanced-dict scans (ADVICE r4 #2) -----------------

def test_balanced_dict_skips_hex_string_before_close():
    # /ID <ABCD>>> — the hex close is immediately followed by the dict
    # close; a string-blind scanner sees ">>>" and closes one byte early
    from html5ever_elixir_spark.parser.pdf import _balanced_dict

    data = b"/Parms << /ID <ABCD> /N 3 >> /After 7 >>tail"
    body = _balanced_dict(data, 0)
    assert body == b"/Parms << /ID <ABCD> /N 3 >> /After 7 "
    data2 = b"/ID <ABCD>>>tail"
    assert _balanced_dict(data2, 0) == b"/ID <ABCD>"


def test_balanced_dict_skips_literal_string_with_dict_tokens():
    from html5ever_elixir_spark.parser.pdf import _balanced_dict

    data = b"/T (has >> and << inside \\) too) /N 1 >>rest"
    assert _balanced_dict(data, 0) == b"/T (has >> and << inside \\) too) /N 1 "


def test_decode_parms_with_hex_string_id():
    # end-to-end: a stream whose DecodeParms-bearing dict also carries a
    # hex string value ending flush against >> must still decode
    from html5ever_elixir_spark.parser.pdf import (
        extract_pdf_text,
        make_simple_pdf,
    )

    pdf = make_simple_pdf(["hello strings"])
    text, _ = extract_pdf_text(pdf)
    assert "hello strings" in text


# -- temperature mix: rounded rate boundary (ADVICE r4 #3) ------------------

def test_temperature_mix_rate_is_rounded(spark):
    from html5ever_elixir_spark.operators.sampling import temperature_mix

    docs = spark.createDataFrame(
        [(i, "s" + str(i % 3)) for i in range(90)], "doc_id bigint, source string"
    )
    out = temperature_mix(docs, temperature=3.0, target_frac=0.7)
    # deterministic: same result twice (layout-independent hash gate)
    a = sorted(r.doc_id for r in out.collect())
    b = sorted(r.doc_id for r in out.collect())
    assert a == b and 0 < len(a) < 90


# -- GIF decode (pure Python LZW) — r4 verdict ask #4 -----------------------

def _gif_lzw_encode(indices, mcs):
    """Real GIF LZW compressor (spec appendix F) for roundtrip tests:
    emits clear, codes with dynamic width, end; packs LSB-first."""
    clear, end = 1 << mcs, (1 << mcs) + 1
    table = {(i,): i for i in range(clear)}
    next_code = end + 1
    csize = mcs + 1
    acc = nbits = 0
    out = bytearray()

    def emit(code):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += csize
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    run = ()
    for px in indices:
        cand = run + (px,)
        if cand in table:
            run = cand
            continue
        emit(table[run])
        table[cand] = next_code
        next_code += 1
        if next_code - 1 == (1 << csize) and csize < 12:
            csize += 1
        if next_code > 4095:
            emit(clear)
            table = {(i,): i for i in range(clear)}
            next_code = end + 1
            csize = mcs + 1
        run = (px,)
    if run:
        emit(table[run])
    emit(end)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _make_gif(w, h, indices, palette, mcs=None, interlace=False,
              local_table=False, version=b"89a", extensions=b""):
    import struct

    ncolors = len(palette)
    # color table size field: 2^(sz+1) >= ncolors
    sz = max(0, (max(ncolors, 2) - 1).bit_length() - 1)
    table = b"".join(bytes(c) for c in palette) + b"\x00\x00\x00" * (
        (2 << sz) - ncolors
    )
    if mcs is None:
        mcs = max(2, sz + 1)
    packed_lsd = (0x80 | sz) if not local_table else 0x00
    out = bytearray(b"GIF" + version)
    out += struct.pack("<HHBBB", w, h, packed_lsd, 0, 0)
    if not local_table:
        out += table
    out += extensions
    ip = (0x40 if interlace else 0) | ((0x80 | sz) if local_table else 0)
    out += b"\x2C" + struct.pack("<HHHHB", 0, 0, w, h, ip)
    if local_table:
        out += table
    out += bytes([mcs])
    data = _gif_lzw_encode(indices, mcs)
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3B"
    return bytes(out)


def _luma(rgb):
    return (rgb[0] * 299 + rgb[1] * 587 + rgb[2] * 114) // 1000


def test_gif_basic_roundtrip():
    from html5ever_elixir_spark.operators.multimodal import _decode_raster

    palette = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 255)]
    idx = [0, 1, 2, 3, 3, 2, 1, 0, 0, 0, 1, 1]
    w, h, px = _decode_raster(_make_gif(4, 3, idx, palette))
    assert (w, h) == (4, 3)
    assert px == [_luma(palette[i]) for i in idx]


def test_gif_property_roundtrip_random_streams():
    import random

    from html5ever_elixir_spark.operators.multimodal import _decode_raster

    rng = random.Random(5)
    for trial in range(8):
        ncol = rng.choice([2, 4, 16, 64, 256])
        w = rng.randint(1, 40)
        h = rng.randint(1, 40)
        palette = [
            (rng.randint(0, 255), rng.randint(0, 255), rng.randint(0, 255))
            for _ in range(ncol)
        ]
        # mix runs (exercises table growth) and noise
        idx = []
        while len(idx) < w * h:
            if rng.random() < 0.5:
                idx += [rng.randrange(ncol)] * rng.randint(1, 30)
            else:
                idx.append(rng.randrange(ncol))
        idx = idx[: w * h]
        got_w, got_h, px = _decode_raster(_make_gif(w, h, idx, palette))
        assert (got_w, got_h) == (w, h)
        assert px == [_luma(palette[i]) for i in idx], f"trial {trial}"


def test_gif_long_stream_code_width_growth():
    # >4096-entry table forces the deferred-clear path in the encoder
    # and 12-bit codes in the decoder
    import random

    from html5ever_elixir_spark.operators.multimodal import _decode_raster

    rng = random.Random(11)
    palette = [(i, i, i) for i in range(256)]
    idx = [rng.randrange(256) for _ in range(120 * 120)]
    w, h, px = _decode_raster(_make_gif(120, 120, idx, palette))
    assert px == [_luma(palette[i]) for i in idx]


def test_gif_local_color_table_and_gif87a():
    from html5ever_elixir_spark.operators.multimodal import _decode_raster

    palette = [(10, 20, 30), (200, 100, 50)]
    idx = [0, 1, 1, 0]
    gif = _make_gif(2, 2, idx, palette, local_table=True, version=b"87a")
    w, h, px = _decode_raster(gif)
    assert (w, h) == (2, 2)
    assert px == [_luma(palette[i]) for i in idx]


def test_gif_extension_blocks_skipped():
    from html5ever_elixir_spark.operators.multimodal import _decode_raster

    # graphic control extension + comment extension before the frame
    ext = (b"\x21\xF9\x04\x00\x0A\x00\x00\x00"
           b"\x21\xFE\x05hello\x00")
    palette = [(0, 0, 0), (255, 255, 255)]
    idx = [1, 0, 0, 1]
    w, h, px = _decode_raster(
        _make_gif(2, 2, idx, palette, extensions=ext)
    )
    assert px == [_luma(palette[i]) for i in idx]


def test_gif_corrupt_variants_are_errors():
    import pytest

    from html5ever_elixir_spark.operators.multimodal import (
        CorruptRasterError,
        _decode_raster,
    )

    palette = [(0, 0, 0), (255, 255, 255)]
    good = _make_gif(2, 2, [0, 1, 1, 0], palette)
    with pytest.raises(CorruptRasterError):
        _decode_raster(good[:15])  # truncated mid-stream
    with pytest.raises(CorruptRasterError, match="no image data"):
        _decode_raster(good[:13] + good[13:19] + b"\x3B")  # trailer, no frame
    # pixel data short: half the indices
    short = _make_gif(4, 4, [0, 1] * 3, palette)
    with pytest.raises(CorruptRasterError, match="short"):
        _decode_raster(short)
    # palette index out of range: 4-entry table, index 3 points past the
    # declared 2-color palette but inside the padded table — craft an
    # index beyond table size via mcs bump
    with pytest.raises(CorruptRasterError):
        _decode_raster(_make_gif(2, 2, [0, 1, 1, 0], palette, mcs=12))


def test_gif_fuzz_never_escapes_error_contract():
    import random

    from html5ever_elixir_spark.operators.multimodal import (
        CorruptRasterError,
        _decode_raster,
    )

    rng = random.Random(99)
    palette = [(3, 5, 7), (99, 120, 140), (1, 2, 3), (250, 250, 250)]
    base = bytearray(_make_gif(5, 4, [rng.randrange(4) for _ in range(20)],
                               palette))
    for _ in range(300):
        mut = bytearray(base)
        for _ in range(rng.randint(1, 6)):
            mut[rng.randrange(len(mut))] = rng.randrange(256)
        try:
            w, h, px = _decode_raster(bytes(mut))
            assert len(px) == w * h
        except (CorruptRasterError, ValueError):
            pass  # typed row-level error or unrecognized magic — both fine


def test_gif_through_media_features(spark):
    from html5ever_elixir_spark.operators.multimodal import (
        extract_media_features,
    )

    palette = [(i * 16, i * 16, i * 16) for i in range(16)]
    gif = _make_gif(8, 8, [i % 16 for i in range(64)], palette)
    df = spark.createDataFrame(
        [(1, "image", bytearray(gif), None),
         (2, "image", bytearray(gif[:20]), None)],
        "media_id bigint, kind string, payload binary, "
        "meta struct<width:int,height:int,mime:string>",
    )
    rows = {r.media_id: r for r in extract_media_features(df).collect()}
    assert rows[1].decode_error is None and len(rows[1].feature) == 8
    assert rows[2].decode_error is not None and rows[2].feature is None


def test_gif_interlaced_deinterlace():
    # r6: interlace is a row REORDER (appendix E four passes), not an
    # unsupported body — per-row distinct palette indices prove the
    # reorder is exact for both a full 8-row cycle and an odd height
    from html5ever_elixir_spark.operators.multimodal import _decode_raster

    for h in (8, 11):
        pal = [(i * 20, i * 20, i * 20) for i in range(h)]
        order = (list(range(0, h, 8)) + list(range(4, h, 8))
                 + list(range(2, h, 4)) + list(range(1, h, 2)))
        idx_file = [r for r in order for _ in range(4)]
        w, hh, px = _decode_raster(
            _make_gif(4, h, idx_file, pal, interlace=True)
        )
        assert (w, hh) == (4, h)
        lum = [(i * 20 * 299 + i * 20 * 587 + i * 20 * 114) // 1000
               for i in range(h)]
        assert all(px[r * 4 + c] == lum[r]
                   for r in range(h) for c in range(4))


def test_encode_gif_roundtrip_byte_lossless():
    # production writer (multimodal.encode_gif): gray palette i=(i,i,i)
    # makes decoded luma == input byte for every value 0..255
    from html5ever_elixir_spark.operators.multimodal import (
        _GIF_EXTS,
        _decode_raster,
        encode_gif,
    )

    px = bytes(range(256)) * 3
    for version, exts in ((b"87a", b""), (b"89a", _GIF_EXTS)):
        w, h, got = _decode_raster(encode_gif(px, len(px), 1, version, exts))
        assert (w, h) == (len(px), 1)
        assert bytes(got) == px


def test_docs_to_gifs_spark_roundtrip(spark):
    from html5ever_elixir_spark.operators.multimodal import (
        _decode_raster,
        docs_to_gifs,
    )

    docs = spark.createDataFrame(
        [(1, "odd doc gif87a"), (2, "even doc gif89a + extensions")],
        "doc_id bigint, text string",
    )
    rows = {r.media_id: bytes(r.payload)
            for r in docs_to_gifs(docs).collect()}
    assert rows[1][:6] == b"GIF87a" and rows[2][:6] == b"GIF89a"
    for did, text in ((1, "odd doc gif87a"),
                      (2, "even doc gif89a + extensions")):
        _, _, px = _decode_raster(rows[did])
        assert bytes(px).decode("ascii") == text


# -- encrypted PDFs: RC4 standard security handler (r4 verdict ask #5) ------

def _enc_fixture(r=3, length=128, **kw):
    from html5ever_elixir_spark.parser.pdf import (
        encrypt_pdf_rc4,
        make_simple_pdf,
    )

    pdf = make_simple_pdf(["secret line one", "and the second line"])
    return pdf, encrypt_pdf_rc4(pdf, r=r, length=length, **kw)


def test_rc4_r3_128_roundtrip():
    from html5ever_elixir_spark.parser.pdf import extract_pdf_text

    plain, enc = _enc_fixture(r=3, length=128)
    assert enc != plain and b"secret" not in enc
    assert extract_pdf_text(enc) == extract_pdf_text(plain)


def test_rc4_r2_40_roundtrip():
    from html5ever_elixir_spark.parser.pdf import extract_pdf_text

    plain, enc = _enc_fixture(r=2, length=40)
    assert extract_pdf_text(enc) == extract_pdf_text(plain)


def test_rc4_input_with_preexisting_id_roundtrips():
    # ADVICE r5 low: an input that already carries a trailer /ID used to
    # make the reader derive the key from the STALE first /ID while the
    # writer keyed its own appended one → spurious "password required".
    # Now the writer reuses the existing first /ID element (spec: the
    # first element is permanent across updates) and the reader takes
    # the LAST /ID occurrence — either rule alone decrypts the file.
    from html5ever_elixir_spark.parser.pdf import (
        encrypt_pdf_rc4,
        extract_pdf_text,
        make_simple_pdf,
    )

    pdf = make_simple_pdf(["secret with preexisting id"])
    with_id = pdf + b"trailer\n<< /ID [<DEADBEEF00> <DEADBEEF00>] >>\n"
    for r, length in ((2, 40), (3, 128)):
        enc = encrypt_pdf_rc4(with_id, r=r, length=length)
        assert extract_pdf_text(enc) == extract_pdf_text(pdf)
        # the permanent first element survived into the new trailer
        assert b"<deadbeef00>" in enc


def test_rc4_multipage_and_fonts_still_work():
    # encryption composes with the font layer: ToUnicode stream is
    # itself encrypted and must decode after decryption
    from html5ever_elixir_spark.parser.pdf import (
        encrypt_pdf_rc4,
        extract_pdf_text,
    )

    cmap = (b"begincmap\n1 begincodespacerange <00> <FF> endcodespacerange\n"
            b"1 beginbfchar\n<41> <0634>\nendbfchar\nendcmap\n")
    fonts = _obj(5, b"<< /Type /Font /ToUnicode 6 0 R >>") + _stream_obj(
        6, zlib.compress(cmap), b" /Filter /FlateDecode"
    )
    pdf = _font_pdf(b"BT /F1 10 Tf (AB) Tj ET", fonts, b"/F1 5 0 R")
    text, _ = extract_pdf_text(pdf)
    enc_text, _ = extract_pdf_text(encrypt_pdf_rc4(pdf))
    assert enc_text == text == "شB"


def test_real_user_password_typed_error():
    from html5ever_elixir_spark.parser.pdf import PdfError, extract_pdf_text

    _, enc = _enc_fixture(user_pw=b"hunter2")
    with pytest.raises(PdfError, match="password required"):
        extract_pdf_text(enc)


def test_aes_scope_typed_errors():
    # r6: V4/R4 /CFM /AESV2 and V5/R6 /CFM /AESV3 are now SUPPORTED
    # (see test_aesv2_* / test_aes256_*); V4/V5 without a recognized
    # crypt filter and the deprecated R5 remain distinct typed errors
    from html5ever_elixir_spark.parser.pdf import PdfError, extract_pdf_text

    _, enc = _enc_fixture()
    with pytest.raises(PdfError, match="crypt filter"):
        extract_pdf_text(enc.replace(b"/V 2 /R 3", b"/V 4 /R 4"))
    with pytest.raises(PdfError, match="crypt filter"):
        extract_pdf_text(enc.replace(b"/V 2 /R 3", b"/V 5 /R 6"))
    with pytest.raises(PdfError, match="R5|unsupported"):
        extract_pdf_text(enc.replace(b"/V 2 /R 3", b"/V 5 /R 5"))


def test_aes256_roundtrip_and_password_gate():
    from html5ever_elixir_spark.parser.pdf import (
        PdfError,
        encrypt_pdf_aes256,
        extract_pdf_text,
        make_simple_pdf,
    )

    pdf = make_simple_pdf(["aes256 secret body", "second line"])
    enc = encrypt_pdf_aes256(pdf)
    assert enc != pdf and b"aes256 secret" not in enc
    assert b"/CFM /AESV3" in enc and b"/V 5 /R 6" in enc
    assert extract_pdf_text(enc) == extract_pdf_text(pdf)
    with pytest.raises(PdfError, match="password required"):
        extract_pdf_text(encrypt_pdf_aes256(pdf, user_pw=b"pw"))


def test_aes256_mutation_fuzz_never_escapes_error_contract():
    from html5ever_elixir_spark.parser.pdf import (
        PdfError,
        encrypt_pdf_aes256,
        extract_pdf_text,
        make_simple_pdf,
    )

    base = encrypt_pdf_aes256(make_simple_pdf(["fuzz 256"]))
    n = len(base)
    for trial in range(120):
        r = (trial * 2654435761) % (2 * n)
        if trial % 2:
            i = r % n
            mut = base[:i] + bytes([base[i] ^ (1 << (r % 8))]) + base[i + 1 :]
        else:
            mut = base[: r % n]
        try:
            extract_pdf_text(mut)
        except PdfError:
            pass


def test_aesv2_roundtrip_and_password_gate():
    from html5ever_elixir_spark.parser.pdf import (
        encrypt_pdf_aes,
        extract_pdf_text,
        make_simple_pdf,
    )

    pdf = make_simple_pdf(["aes secret line", "and a second one"])
    enc = encrypt_pdf_aes(pdf)
    assert enc != pdf and b"aes secret" not in enc
    assert b"/CFM /AESV2" in enc and b"/V 4 /R 4" in enc
    assert extract_pdf_text(enc) == extract_pdf_text(pdf)
    # real user password → typed error, not garbage output
    from html5ever_elixir_spark.parser.pdf import PdfError

    with pytest.raises(PdfError, match="password required"):
        extract_pdf_text(encrypt_pdf_aes(pdf, user_pw=b"pw"))


def test_aesv2_composes_with_fonts_and_flate():
    # the ToUnicode stream is itself AES-encrypted and must decode
    # after decryption (same composition gate as the RC4 variant)
    from html5ever_elixir_spark.parser.pdf import (
        encrypt_pdf_aes,
        extract_pdf_text,
    )
    from tests.test_pdf_fonts import _font_pdf, _obj, _stream_obj
    import zlib as _z

    cmap = (
        b"begincmap\n"
        b"1 begincodespacerange <00> <FF> endcodespacerange\n"
        b"1 beginbfchar\n<41> <0062>\nendbfchar\n"
        b"endcmap\n"
    )
    fonts = _obj(5, b"<< /Type /Font /ToUnicode 6 0 R >>") + _stream_obj(
        6, _z.compress(cmap), b" /Filter /FlateDecode"
    )
    pdf = _font_pdf(b"BT /F1 10 Tf (A) Tj ET", fonts, b"/F1 5 0 R")
    assert extract_pdf_text(encrypt_pdf_aes(pdf)) == extract_pdf_text(pdf)


def test_aesv2_mutation_fuzz_never_escapes_error_contract():
    from html5ever_elixir_spark.parser.pdf import (
        PdfError,
        encrypt_pdf_aes,
        extract_pdf_text,
        make_simple_pdf,
    )

    base = encrypt_pdf_aes(make_simple_pdf(["fuzz target text"]))
    n = len(base)
    for trial in range(200):
        r = (trial * 2654435761) % (2 * n)
        if trial % 2:
            i = r % n
            mut = base[:i] + bytes([base[i] ^ (1 << (r % 8))]) + base[i + 1 :]
        else:
            mut = base[: r % n]
        try:
            extract_pdf_text(mut)
        except PdfError:
            pass


def test_nonstandard_handler_typed_error():
    from html5ever_elixir_spark.parser.pdf import PdfError, extract_pdf_text

    _, enc = _enc_fixture()
    with pytest.raises(PdfError, match="non-standard"):
        extract_pdf_text(enc.replace(b"/Filter /Standard", b"/Filter /Custom5"))


def test_encrypted_fuzz_never_escapes_error_contract():
    import random

    from html5ever_elixir_spark.parser.pdf import PdfError, extract_pdf_text

    _, enc = _enc_fixture()
    rng = random.Random(31)
    for _ in range(120):
        mut = bytearray(enc)
        for _ in range(rng.randint(1, 8)):
            mut[rng.randrange(len(mut))] = rng.randrange(256)
        try:
            text, n = extract_pdf_text(bytes(mut))
            assert isinstance(text, str) and n >= 1
        except PdfError:
            pass  # typed row error — fine


def test_docs_to_pdfs_encrypt_every_roundtrip(spark):
    from html5ever_elixir_spark.operators.pdf import docs_to_pdfs, pdf_extract

    docs = spark.createDataFrame(
        [(i, f"doc number {i} body words here") for i in range(12)],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in
           pdf_extract(docs_to_pdfs(docs, encrypt_every=4)).collect()}
    assert all(out[i].error is None for i in range(12))
    assert out[4].text == "doc number 4 body words here"


# -- curation v2: + decontaminate + PII scrub (r4 verdict ask #6) -----------

def test_decontaminate_hits_only_matches_filtered_full(spark):
    from html5ever_elixir_spark.operators.dedup import decontaminate

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i * 7 + j) % 40}" for j in range(30)))
         for i in range(20)],
        "doc_id bigint, text string",
    )
    bench = docs.where("doc_id >= 15")
    train = docs.where("doc_id < 15")
    full = {r.doc_id: r.n_hits
            for r in decontaminate(train, bench, n=5).collect()
            if r.contaminated}
    hits = {r.doc_id: r.n_hits
            for r in decontaminate(train, bench, n=5,
                                   hits_only=True).collect()}
    assert hits == full and len(hits) > 0


def test_curation_v2_semantics(spark):
    from html5ever_elixir_spark.plans.curation import run_curation_v2

    # doc 1: clean English -> survives and is scrubbed+chunked
    # doc 2: contains a 13-gram shared with the benchmark -> dropped
    # doc 3: duplicate (shorter) of doc 1 -> keep-longest drops it
    base = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away home again with contact me at bob@example.com now "
            "please and thank you very much indeed friend")
    contaminated = ("prefix words " + " ".join(f"b{j}" for j in range(13))
                    + " the quick brown fox jumps over the lazy dog runs")
    bench_text = " ".join(f"b{j}" for j in range(13)) + " unrelated tail"
    docs = spark.createDataFrame(
        [(1, base + " extra tail words", "en", "s"),
         (2, contaminated + " " + base, "en", "s"),
         (3, base, "en", "s")],
        "doc_id bigint, text string, lang string, source string",
    )
    bench = spark.createDataFrame(
        [(100, bench_text, "en", "s")],
        "doc_id bigint, text string, lang string, source string",
    )
    out = run_curation_v2(docs, bench, rates={"en": 1.0},
                          chunk_words=50, overlap=0).collect()
    ids = {r.doc_id for r in out}
    assert ids == {1}
    assert all("[EMAIL]" in r.chunk_text or "@" not in r.chunk_text
               for r in out)
    assert any("[EMAIL]" in r.chunk_text for r in out)


def test_curation_v2_plan_no_extra_corpus_scan(spark, tmp_path):
    # hits_only composition: the decontaminate lineage contributes its
    # gram scan + the benchmark scan, NOT an extra id-only corpus scan
    # (Catalyst cannot eliminate the full-output variant's marry-back
    # join). Expected scans: gate(1) + keep-longest(1) + doc-grams(1) +
    # bench(1) + the chunk lineage's own gate copy... measured: 6 with
    # hits_only vs 7 without.
    from html5ever_elixir_spark.plans.curation import run_curation_v2

    docs = spark.createDataFrame(
        [(i, f"some words here {i} " * 20, "en", "s") for i in range(40)],
        "doc_id bigint, text string, lang string, source string",
    )
    p = str(tmp_path / "docs.parquet")
    docs.write.mode("overwrite").parquet(p)
    pdocs = spark.read.parquet(p)
    out = run_curation_v2(
        pdocs.where("doc_id % 5 <> 0"), pdocs.where("doc_id % 5 = 0")
    )
    out.collect()
    final = out._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert sum(1 for ln in final.splitlines() if "Scan parquet" in ln) <= 6


# -- round-5 new operators: split / blocklist / NFC / tf-idf ----------------

def test_split_assign_fractions_and_determinism(spark):
    from html5ever_elixir_spark.operators.sampling import split_assign

    docs = spark.createDataFrame(
        [(i,) for i in range(2000)], "doc_id bigint"
    )
    out = {r.doc_id: r.split for r in split_assign(
        docs, splits=(("train", 0.8), ("val", 0.1), ("test", 0.1))
    ).collect()}
    from collections import Counter

    c = Counter(out.values())
    assert set(c) == {"train", "val", "test"}
    assert 1500 < c["train"] < 1700  # ~80% of 2000, hash-binomial spread
    # layout-independent: same assignment after repartition
    out2 = {r.doc_id: r.split for r in split_assign(
        docs.repartition(7), splits=(("train", 0.8), ("val", 0.1), ("test", 0.1))
    ).collect()}
    assert out == out2
    # every doc assigned (catch-all last bucket)
    assert len(out) == 2000


def test_filter_blocked_hosts_parent_domain_semantics(spark):
    from html5ever_elixir_spark.functions.url import filter_blocked_hosts

    pages = spark.createDataFrame(
        [(1, "https://a.b.evil.example/x"),     # parent match evil.example
         (2, "https://evil.example/y"),          # exact match
         (3, "https://notevil.example/z"),       # suffix STRING but not label
         (4, "https://deep.sub.only.example/w"), # exact-subdomain entry
         (5, "https://sub.only.example/v"),      # parent of entry -> kept
         (6, "https://ok.example/u")],
        "doc_id bigint, url string",
    )
    blocked = spark.createDataFrame(
        [("evil.example",), ("deep.sub.only.example",)], "domain string"
    )
    kept = {r.doc_id for r in filter_blocked_hosts(pages, blocked).collect()}
    assert kept == {3, 5, 6}


def test_filter_blocked_hosts_deeper_than_max_labels(spark):
    # ADVICE r5 high: a host DEEPER than max_labels must still be
    # blocked by a shallow parent domain — the suffix window anchors at
    # the tail (shallowest suffixes), not the head.
    from html5ever_elixir_spark.functions.url import (
        filter_blocked_hosts,
        host_suffixes,
    )
    from pyspark.sql import functions as F

    pages = spark.createDataFrame(
        [(1, "https://a.b.c.d.e.evil.example/x"),   # 7 labels, parent block
         (2, "https://a.b.c.d.e.ok.example/y"),     # 7 labels, kept
         (3, "https://evil.example/z")],            # shallow exact
        "doc_id bigint, url string",
    )
    blocked = spark.createDataFrame([("evil.example",)], "domain string")
    kept = {r.doc_id
            for r in filter_blocked_hosts(pages, blocked, max_labels=5)
            .collect()}
    assert kept == {2}
    # the suffix array itself: tail-anchored, shallowest max_labels
    sfx = (spark.range(1)
           .select(host_suffixes(F.lit("a.b.c.d.e.evil.example"), 5)
                   .alias("s"))
           .head().s)
    assert sfx == ["c.d.e.evil.example", "d.e.evil.example",
                   "e.evil.example", "evil.example", "example"]


def test_nfc_normalize_semantics(spark):
    from html5ever_elixir_spark.operators.textstats import nfc_normalize_docs

    docs = spark.createDataFrame(
        [(1, "café"), (2, "plain ascii"), (3, None)],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r for r in nfc_normalize_docs(docs).collect()}
    assert rows[1].text_nfc == "café" and rows[1].changed
    assert rows[1].n_chars_before == 5 and rows[1].n_chars_after == 4
    assert rows[2].text_nfc == "plain ascii" and not rows[2].changed
    assert rows[3].text_nfc is None and rows[3].changed is None


def test_tfidf_top_terms_ranking(spark):
    from html5ever_elixir_spark.operators.textstats import tfidf_top_terms

    # 'rare' appears only in doc 1 (high idf); 'common' in all docs
    docs = spark.createDataFrame(
        [(1, "common rare rare common common"),
         (2, "common common other"),
         (3, "common other other")],
        "doc_id bigint, text string",
    )
    rows = [r for r in tfidf_top_terms(docs, k=2).collect() if r.doc_id == 1]
    by_rank = {r.rank: r for r in rows}
    assert by_rank[1].word == "rare" and by_rank[1].tf == 2
    assert by_rank[1].df == 1
    # common has idf ln(4/4)=0 -> tfidf 0; still ranked below rare
    assert by_rank[2].tfidf < by_rank[1].tfidf


def test_lm_score_reference_like_scores_lower(spark):
    from html5ever_elixir_spark.operators.textstats import lm_score

    ref = spark.createDataFrame(
        [(100 + i, "the cat sat on the mat and the dog ran off") for i in
         range(3)],
        "doc_id bigint, text string",
    )
    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"),        # in-reference bigrams
         (2, "zq xv qqq zzz vvv bbb"),         # out-of-vocabulary gibberish
         (3, "one"),                            # < 2 words -> absent
         (4, None)],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r for r in lm_score(docs, ref).collect()}
    assert set(rows) == {1, 2}
    assert rows[1].lm_score < rows[2].lm_score
    assert rows[1].n_bigrams == 5 and rows[2].n_bigrams == 5
    # deterministic across partitionings (the sorted-fold discipline)
    again = {r.doc_id: r.lm_score
             for r in lm_score(docs.repartition(5), ref).collect()}
    assert again == {k: v.lm_score for k, v in rows.items()}


# -- WARC container source --------------------------------------------------

def _recs(n=3):
    return [
        (f"https://h{i}.example/p", "2024-01-01T00:00:00Z",
         f"<html><body><p>doc {i}</p></body></html>".encode())
        for i in range(n)
    ]


def test_warc_roundtrip_plain_and_gzip():
    from html5ever_elixir_spark.sources.warc import (
        make_warc,
        parse_warc_records,
    )

    for gz in (False, True):
        got = list(parse_warc_records(make_warc(_recs(), gzip_records=gz)))
        assert [r["url"] for r in got] == [u for u, _, _ in _recs()]
        assert got[1]["html"] == _recs()[1][2]
        assert got[0]["date"] == "2024-01-01T00:00:00Z"


def test_warc_skips_non_response_records():
    from html5ever_elixir_spark.sources.warc import (
        make_warc_record,
        parse_warc_records,
    )

    req = make_warc_record("https://x.example/", "2024-01-01T00:00:00Z",
                           b"GET / HTTP/1.1", rec_type="request")
    # request payloads start with HTTP/ only for responses; a request
    # record must be skipped BEFORE its payload shape is judged
    resp = make_warc_record("https://y.example/", "2024-01-01T00:00:00Z",
                            b"<p>y</p>")
    got = list(parse_warc_records(req + resp))
    assert len(got) == 1 and got[0]["url"] == "https://y.example/"


def test_warc_content_length_walk_not_delimiter_scan():
    from html5ever_elixir_spark.sources.warc import (
        make_warc_record,
        parse_warc_records,
    )

    # html containing the record separator AND a fake WARC/ line: the
    # reader must walk by Content-Length, not scan for delimiters
    evil = b"<p>\r\n\r\nWARC/1.0\r\n fake</p>"
    data = (make_warc_record("https://a.example/", "2024-01-01T00:00:00Z",
                             evil)
            + make_warc_record("https://b.example/",
                               "2024-01-01T00:00:00Z", b"<p>b</p>"))
    got = list(parse_warc_records(data))
    assert [r["url"] for r in got] == ["https://a.example/",
                                      "https://b.example/"]
    assert got[0]["html"] == evil


def test_warc_corrupt_variants_are_typed_errors():
    from html5ever_elixir_spark.sources.warc import (
        WarcError,
        make_warc,
        parse_warc_records,
    )

    good = make_warc(_recs())
    with pytest.raises(WarcError, match="version line"):
        list(parse_warc_records(b"NOTWARC" + good))
    with pytest.raises(WarcError, match="truncated"):
        list(parse_warc_records(good[: len(good) - 40]))
    gz = make_warc(_recs(), gzip_records=True)
    with pytest.raises(WarcError, match="inflate|trailing"):
        list(parse_warc_records(gz[:-10] + b"x" * 10))


def test_warc_negative_content_length_is_error_not_hang():
    # ADVICE r5 medium: int('-N') parses, and a Content-Length equal to
    # -(header block + 4) would move pos BACKWARD onto the same record —
    # an infinite loop on one hostile blob. Must be a typed row error.
    from html5ever_elixir_spark.sources.warc import (
        WarcError,
        parse_warc_records,
    )

    hdr = (
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        "WARC-Target-URI: https://x.example/\r\n"
    ).encode("ascii")
    # craft clen so hdr_end + 4 + clen == record start (pos)
    for clen in (-1, -(len(hdr) + len("Content-Length: -99\r\n\r\n") + 2)):
        blob = hdr + f"Content-Length: {clen}\r\n\r\n".encode("ascii")
        with pytest.raises(WarcError, match="negative"):
            list(parse_warc_records(blob))


def test_warc_gzip_bomb_is_row_error():
    # ADVICE r5 low: a small hostile gzip member must not inflate to
    # executor-OOM scale — budget-capped like the raster bomb caps.
    import zlib

    from html5ever_elixir_spark.sources import warc as warc_mod
    from html5ever_elixir_spark.sources.warc import (
        WarcError,
        parse_warc_records,
    )

    co = zlib.compressobj(9, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
    bomb = co.compress(b"\x00" * (4 * 1024 * 1024)) + co.flush()
    assert len(bomb) < 8192  # genuinely bomb-shaped (>500× ratio)
    old_floor = warc_mod._INFLATE_FLOOR
    warc_mod._INFLATE_FLOOR = 1024 * 1024  # shrink budget for the test
    try:
        with pytest.raises(WarcError, match="budget"):
            list(parse_warc_records(bomb))
    finally:
        warc_mod._INFLATE_FLOOR = old_floor
    # a legitimate gzipped WARC still parses under the real budget
    from html5ever_elixir_spark.sources.warc import make_warc

    assert len(list(parse_warc_records(
        make_warc(_recs(), gzip_records=True)))) == len(_recs())


def test_warc_big_blob_bounded_memory():
    # r5 verdict #2: a multi-hundred-MB gzipped WARC blob must stream
    # through the record walk with ~O(one record) memory, not O(blob
    # inflated). 200 MiB inflated / single gzip member; tracemalloc
    # peak while iterating must stay far below the inflated size.
    import tracemalloc
    import zlib

    from html5ever_elixir_spark.sources.warc import (
        make_warc_record,
        parse_warc_records,
    )

    n, body = 200, b"x" * (1024 * 1024)
    plain = b"".join(
        make_warc_record(f"https://big.example/p{i}",
                         "2024-01-01T00:00:00Z", body)
        for i in range(n)
    )
    co = zlib.compressobj(6, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
    blob = co.compress(plain) + co.flush()
    del plain, co
    tracemalloc.start()
    seen = 0
    for rec in parse_warc_records(blob):
        assert len(rec["html"]) == len(body)
        seen += 1
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert seen == n
    # rolling buffer + 4 MiB inflate chunks + one record ≪ 200 MiB
    assert peak < 64 * 1024 * 1024, f"peak {peak/1e6:.0f} MB"


@pytest.mark.parametrize("kind", ["warc", "wet"])
def test_warc_to_pages_output_batches_are_size_flushed(monkeypatch, kind):
    # one blob with more records than the flush threshold must yield
    # MULTIPLE output RecordBatches (Arrow output is size-bounded, not
    # per-blob) — Spark-free drive of the shared row stage's batch loop
    # over the WARC (warc_to_pages) and WET (wet_to_text) record walks
    import pyarrow as pa

    from html5ever_elixir_spark.operators import stage
    from html5ever_elixir_spark.sources import warc

    monkeypatch.setattr(stage, "FLUSH_ROWS", 100)
    recs = [(f"https://f.example/p{i}", "2024-01-01T00:00:00Z",
             "<p>x</p>") for i in range(250)]
    if kind == "warc":
        blob = warc.make_warc([(u, d, t.encode()) for u, d, t in recs])
        fn, fields = warc._warc_rows, warc.PAGES_FIELDS
    else:
        blob = warc.make_wet(recs)
        fn, fields = warc._wet_rows, warc.WET_FIELDS
    batch = pa.RecordBatch.from_pydict(
        {"blob_id": [1], "content": [blob]},
        schema=pa.schema([("blob_id", pa.int64()),
                          ("content", pa.binary())]),
    )
    out = list(stage.row_batches(iter([batch]), fn, fields))
    assert len(out) >= 3  # 250 records / 100-row flush
    assert sum(b.num_rows for b in out) == 250
    assert all(b.num_rows <= 100 for b in out)
    urls = [u for b in out for u in b.column("url").to_pylist()]
    assert urls == [r[0] for r in recs]


def test_warc_job_error_metric_is_single_pass(spark, tmp_path):
    # r5 verdict weak: the batch job probed errors with a .count() that
    # re-parsed every blob before the real pipeline ran. The fix is the
    # jobs/run_extraction.py observe() composition: ONE write action
    # both commits the pages and produces the error metric. Mirror that
    # composition here and assert obs.get is satisfied by the write
    # alone (no second action over the blob lineage ever runs).
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from html5ever_elixir_spark.sources.warc import make_warc, warc_to_pages

    blobs = spark.createDataFrame(
        [(1, bytearray(make_warc(_recs(3)))),
         (2, bytearray(b"not a warc"))],
        "warc_id bigint, content binary",
    )
    obs = Observation("warc-ingest-test")
    recs = warc_to_pages(blobs).observe(
        obs,
        F.count(F.lit(1)).alias("warc_rows"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0))
        .alias("warc_error_rows"),
    )
    pages = recs.where("error IS NULL").select("url", "warc_ts", "html")
    pages.write.mode("overwrite").parquet(str(tmp_path / "out"))
    stats = obs.get  # available because the WRITE ran the observed plan
    assert stats["warc_rows"] == 4 and stats["warc_error_rows"] == 1
    assert spark.read.parquet(str(tmp_path / "out")).count() == 3
    # regression guard on the job source itself: no action-probe left
    import pathlib

    src = pathlib.Path("jobs/run_extraction.py").read_text()
    code = "\n".join(ln for ln in src.splitlines()
                     if not ln.lstrip().startswith("#"))
    assert ".count()" not in code and "Observation" in code


def test_warc_to_pages_error_rows(spark):
    from html5ever_elixir_spark.sources.warc import make_warc, warc_to_pages

    rows = [(1, bytearray(make_warc(_recs(2)))),
            (2, bytearray(b"garbage not warc")),
            (3, None)]
    df = spark.createDataFrame(rows, "warc_id bigint, content binary")
    got = warc_to_pages(df).collect()
    ok = [r for r in got if r.error is None]
    bad = {r.warc_id: r.error for r in got if r.error is not None}
    assert len(ok) == 2 and all(r.warc_id == 1 for r in ok)
    assert set(bad) == {2, 3}


# -- WHATWG encoding sniffing (opt-in crawl decode) -------------------------

def test_sniff_decode_chain():
    from html5ever_elixir_spark.parser.encoding import sniff_decode

    assert sniff_decode("abcé".encode("utf-8")) == ("abcé", "utf-8")
    # BOMs win over everything
    assert sniff_decode(b"\xef\xbb\xbfhi") == ("hi", "utf-8")
    assert sniff_decode("hé".encode("utf-16-le")[0:].join(
        [b"\xff\xfe", b""])) == ("hé", "utf-16-le")
    assert sniff_decode(b"\xfe\xff" + "hé".encode("utf-16-be")) == (
        "hé", "utf-16-be")
    # meta-declared latin-1 → windows-1252 per the label table
    t, e = sniff_decode(
        b'<meta charset="iso-8859-1"><p>caf\xe9 \x97 \x93q\x94</p>')
    assert e == "windows-1252" and "café" in t and "—" in t
    # http-equiv form
    t, e = sniff_decode(
        b'<meta http-equiv="Content-Type" '
        b'content="text/html; charset=windows-1252"><p>\x85</p>')
    assert e == "windows-1252" and "…" in t
    # declared utf-8 with invalid bytes → replacement, never an error
    t, e = sniff_decode(b'<meta charset=utf-8><p>\xff</p>')
    assert e == "utf-8" and "�" in t
    # meta-declared utf-16 is treated as utf-8 (spec 13.2.3.2)
    t, e = sniff_decode(b'<meta charset=utf-16><p>ok</p>')
    assert e == "utf-8" and "ok" in t
    # unknown label falls through: invalid utf-8 → cp1252
    t, e = sniff_decode(b'<meta charset=klingon><p>\x97</p>')
    assert e == "windows-1252" and "—" in t
    # undeclared invalid utf-8 → cp1252; C1 pass-through bytes survive
    t, e = sniff_decode(b"a\x81b\x9dc\x80")
    assert e == "windows-1252"
    assert t == "a\x81b\x9dc€"


def test_sniff_mode_decodes_strict_mode_errors(spark):
    from html5ever_elixir_spark.operators.parse import parse_and_extract

    rows = [(u, bytearray(h)) for u, h in [
        ("u1", "<html><body><p>plain utf-8 é</p></body></html>".encode()),
        ("u2", b"<html><body><p>legacy caf\xe9 \x93q\x94</p></body></html>"),
    ]]
    df = spark.createDataFrame(rows, "url string, html binary")
    strict = {r.url: r for r in parse_and_extract(df).collect()}
    assert strict["u1"].error is None
    assert strict["u2"].error is not None  # reference contract untouched
    sniff = {r.url: r
             for r in parse_and_extract(df, encoding="sniff").collect()}
    assert sniff["u1"].text == strict["u1"].text
    assert sniff["u2"].error is None
    assert "café" in sniff["u2"].text and "“q”" in sniff["u2"].text


# -- §13.4 fragment parsing (innerHTML algorithm) ---------------------------

def test_parse_fragment_api_basics():
    from html5ever_elixir_spark.parser.api import parse_fragment

    b = parse_fragment("<p>one<p>two", "div")
    kids = b.fragment_root.children
    assert [k.name for k in kids] == ["p", "p"]
    # ids: doc=0, detached context=1, root=2, then creation order
    assert b.doc.id == 0 and b.fragment_context.id == 1
    assert b.fragment_root.id == 2 and kids[0].id == 3
    # the context element is NOT part of the output tree
    assert b.fragment_context.parent is None


def test_parse_fragment_rcdata_context_end_tag():
    from html5ever_elixir_spark.parser.api import parse_fragment

    # the "appropriate end tag" in RCDATA is the CONTEXT element's name
    b = parse_fragment("x</textarea>y", "textarea")
    kids = b.fragment_root.children
    # </textarea> exits RCDATA; "y" lands after it in body mode
    assert kids[0].type == "text" and kids[0].contents == "xy"


def test_parse_fragment_budget_still_enforced():
    import pytest

    from html5ever_elixir_spark.parser.api import parse_fragment
    from html5ever_elixir_spark.parser.treebuilder import (
        ParseBudgetExceeded,
    )

    with pytest.raises(ParseBudgetExceeded):
        parse_fragment("<i>" * 2000, "div", max_depth=100)


def test_odd_length_hex_never_escapes():
    from html5ever_elixir_spark.parser.pdf import (
        PdfError,
        encrypt_pdf_rc4,
        extract_pdf_text,
        make_simple_pdf,
    )

    # odd-digit /ID (mutated trailer) and odd-digit ToUnicode codes must
    # stay inside the PdfError/extraction contract (extended-fuzz find:
    # bytes.fromhex raised raw ValueError on odd length)
    enc = encrypt_pdf_rc4(make_simple_pdf(["x"]))
    mut = enc.replace(b"/ID [<", b"/ID [<a", 1)
    try:
        extract_pdf_text(mut)
    except PdfError:
        pass
    cmap = (b"begincmap\n1 beginbfchar\n<41> <063>\nendbfchar\nendcmap\n")
    from tests.test_pdf_fonts import _font_pdf, _obj, _stream_obj
    import zlib as _z

    fonts = _obj(5, b"<< /Type /Font /ToUnicode 6 0 R >>") + _stream_obj(
        6, _z.compress(cmap), b" /Filter /FlateDecode"
    )
    text, _ = extract_pdf_text(
        _font_pdf(b"BT /F1 10 Tf (A) Tj ET", fonts, b"/F1 5 0 R")
    )
    assert isinstance(text, str)


def test_png_adam7_deinterlace():
    # r6: Adam7 is per-pass unfiltering + scatter, verified against a
    # hand-built 7-pass stream with alternating None/Sub filters
    import struct
    import zlib as _z

    from html5ever_elixir_spark.operators.multimodal import (
        _ADAM7,
        _adam7_dims,
        _decode_raster,
    )

    def chunk(t, b):
        return (struct.pack(">I", len(b)) + t + b
                + struct.pack(">I", _z.crc32(t + b) & 0xFFFFFFFF))

    w, h = 10, 9
    img = [[(x * 13 + y * 31) % 256 for x in range(w)] for y in range(h)]
    raw = bytearray()
    for p in range(7):
        pw, ph = _adam7_dims(w, h, p)
        if not pw or not ph:
            continue
        x0, y0, dx, dy = _ADAM7[p]
        for j in range(ph):
            rowpix = [img[y0 + j * dy][x0 + i * dx] for i in range(pw)]
            if j % 2 == 0:
                raw.append(0)
                raw.extend(rowpix)
            else:  # Sub filter
                raw.append(1)
                prev = 0
                for v in rowpix:
                    raw.append((v - prev) & 0xFF)
                    prev = v
    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 1))
           + chunk(b"IDAT", _z.compress(bytes(raw)))
           + chunk(b"IEND", b""))
    dw, dh, px = _decode_raster(png)
    assert (dw, dh) == (w, h)
    assert all(px[y * w + x] == img[y][x]
               for y in range(h) for x in range(w))


def test_warc_http_transfer_shapes_roundtrip():
    # r6: raw captures preserve the wire shape — Content-Encoding: gzip,
    # Transfer-Encoding: chunked, and chunked-over-gzip must all decode
    # back to the original entity bytes
    from html5ever_elixir_spark.sources.warc import (
        make_warc,
        parse_warc_records,
    )

    recs = _recs(8)
    for gz in (False, True):
        got = list(parse_warc_records(
            make_warc(recs, gzip_records=gz, http_encode=True)
        ))
        assert len(got) == 8
        assert all("error" not in g and g["html"] == r[2]
                   for g, r in zip(got, recs))


def test_warc_unsupported_content_encoding_is_per_record_error():
    # a brotli-marked record becomes an ERROR ROW carrying its url;
    # the rest of the blob still parses (per-record, not blob-level)
    from html5ever_elixir_spark.sources.warc import (
        make_warc_record,
        parse_warc_records,
    )

    http = (b"HTTP/1.1 200 OK\r\nContent-Encoding: br\r\n"
            b"Content-Length: 2\r\n\r\nxx")
    br_rec = (
        "WARC/1.0\r\nWARC-Type: response\r\n"
        "WARC-Target-URI: https://br.example/\r\n"
        "WARC-Date: 2024-01-01T00:00:00Z\r\n"
        f"Content-Length: {len(http)}\r\n\r\n"
    ).encode("ascii") + http + b"\r\n\r\n"
    good = make_warc_record("https://ok.example/",
                            "2024-01-01T00:00:00Z", b"<p>ok</p>")
    got = list(parse_warc_records(br_rec + good))
    assert got[0]["url"] == "https://br.example/"
    assert "content-encoding: br" in got[0]["error"]
    assert got[0]["html"] is None
    assert got[1]["html"] == b"<p>ok</p>" and "error" not in got[1]


def test_warc_corrupt_entity_gzip_is_per_record_error(spark):
    # corrupted gzip ENTITY (valid WARC framing) → per-record error row
    # with the url, surfaced through warc_to_pages
    from html5ever_elixir_spark.sources.warc import (
        make_warc_record,
        warc_to_pages,
    )

    bad_gz = (b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n"
              b"Content-Length: 8\r\n\r\n\x1f\x8bGARBAG")
    rec = (
        "WARC/1.0\r\nWARC-Type: response\r\n"
        "WARC-Target-URI: https://bad.example/\r\n"
        "WARC-Date: 2024-01-01T00:00:00Z\r\n"
        f"Content-Length: {len(bad_gz)}\r\n\r\n"
    ).encode("ascii") + bad_gz + b"\r\n\r\n"
    good = make_warc_record("https://fine.example/",
                            "2024-01-01T00:00:00Z", b"<p>x</p>")
    df = spark.createDataFrame(
        [(1, bytearray(rec + good))], "warc_id bigint, content binary"
    )
    rows = {r.url: r for r in warc_to_pages(df).collect()}
    assert rows["https://bad.example/"].error is not None
    assert rows["https://fine.example/"].error is None


def test_warc_http_status_column(spark):
    # r6: real crawls carry 3xx/4xx bodies — the reader surfaces the
    # parsed status code so curation can filter to 200s
    from html5ever_elixir_spark.sources.warc import (
        make_warc_record,
        warc_to_pages,
    )

    blob = (
        make_warc_record("https://a.example/", "2024-01-01T00:00:00Z",
                         b"<p>ok</p>")
        + make_warc_record("https://b.example/", "2024-01-01T00:00:00Z",
                           b"<p>gone</p>", http_status="404 Not Found")
        + make_warc_record("https://c.example/", "2024-01-01T00:00:00Z",
                           b"", http_status="301 Moved Permanently")
    )
    df = spark.createDataFrame(
        [(1, bytearray(blob))], "warc_id bigint, content binary"
    )
    rows = {r.url: r.http_status for r in warc_to_pages(df).collect()}
    assert rows == {"https://a.example/": 200, "https://b.example/": 404,
                    "https://c.example/": 301}


def test_wav_writer_reader_roundtrip():
    from html5ever_elixir_spark.operators.multimodal import (
        _decode_audio,
        _wav_samples,
        make_wav_pcm16,
    )

    vals = [(b - 128) * 256 for b in b"wav roundtrip 42"]
    wav = make_wav_pcm16(vals)
    assert _wav_samples(wav) == [abs(v) for v in vals]
    feats = _decode_audio(wav)
    assert len(feats) == 8 and all(0.0 <= f <= 1.0 for f in feats)


def test_encrypted_objstm_page_tree_restored():
    # r6: AES-era files keep catalog/pages/fonts inside /ObjStm, whose
    # body only inflates AFTER stream decryption — the post-decrypt
    # expansion must restore the REAL page tree (not just the salvage
    # heuristic). Proof: a ToUnicode font that rewrites the glyphs
    # lives in the ObjStm; without expansion the salvage path loses it
    # and emits passthrough text.
    from html5ever_elixir_spark.parser.pdf import (
        encrypt_pdf_aes,
        encrypt_pdf_aes256,
        encrypt_pdf_rc4,
        extract_pdf_text,
        make_objstm_pdf,
    )

    pdf = make_objstm_pdf(["objstm secret", "second line"])
    exp = extract_pdf_text(pdf)
    assert "objstm secret" in exp[0]
    for enc_fn in (encrypt_pdf_rc4, encrypt_pdf_aes, encrypt_pdf_aes256):
        assert extract_pdf_text(enc_fn(pdf)) == exp, enc_fn.__name__


def _bmp8(w, h, rows, rle=None, n_colors=256):
    import struct

    pal = b"".join(bytes((i, i, i, 0)) for i in range(n_colors))
    if rle is None:
        rowlen = (w + 3) & ~3
        data = b"".join(bytes(r) + b"\x00" * (rowlen - w) for r in rows)
        comp = 0
    else:
        data = rle
        comp = 1
    off = 14 + 40 + len(pal)
    hdr = (b"BM" + struct.pack("<IHHI", off + len(data), 0, 0, off)
           + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, comp,
                         len(data), 0, 0, n_colors, 0))
    return hdr + pal + data


def test_bmp_8bit_paletted_and_rle8():
    # r6: 8-bit paletted BMPs (plain + RLE8 runs/absolute/delta/EOL/EOB)
    # — the old-crawl norm — decode through the gray palette; bottom-up
    # row order honored in both layouts
    from html5ever_elixir_spark.operators.multimodal import (
        CorruptRasterError,
        _decode_raster,
    )
    import pytest as _pytest

    w, h, px = _decode_raster(_bmp8(3, 2, [[10, 20, 30], [40, 50, 60]]))
    assert (w, h, px) == (3, 2, [40, 50, 60, 10, 20, 30])
    rle = bytes([1, 10, 1, 20, 1, 30, 0, 0,
                 1, 40, 1, 50, 1, 60, 0, 1])
    assert _decode_raster(_bmp8(3, 2, None, rle=rle))[2] == \
        [40, 50, 60, 10, 20, 30]
    rle2 = bytes([0, 3, 10, 20, 30, 0, 0, 0, 0, 2, 1, 0, 2, 99, 0, 1])
    assert _decode_raster(_bmp8(3, 2, None, rle=rle2))[2] == \
        [0, 99, 99, 10, 20, 30]
    # hostile variants are typed errors
    with _pytest.raises(CorruptRasterError, match="overflow"):
        _decode_raster(_bmp8(3, 2, None, rle=bytes([200, 7, 0, 1])))
    with _pytest.raises(CorruptRasterError, match="unterminated"):
        _decode_raster(_bmp8(3, 2, None, rle=bytes([1, 10])))
    # palette index beyond a short palette
    with _pytest.raises(CorruptRasterError, match="palette index"):
        _decode_raster(_bmp8(3, 2, [[10, 20, 30], [40, 50, 60]],
                             n_colors=8))


def test_png_16bit_depth_downsample():
    # r6: 16-bit gray/RGB decode via high-byte downsample; filters
    # reference the previous pixel's corresponding BYTE (stride = bypp)
    import struct
    import zlib as _z

    from html5ever_elixir_spark.operators.multimodal import _decode_raster

    def chunk(t, b):
        return (struct.pack(">I", len(b)) + t + b
                + struct.pack(">I", _z.crc32(t + b) & 0xFFFFFFFF))

    raw = bytearray()
    for r in [[0x1234, 0xFF00, 0x0080], [0xABCD, 0x0001, 0x8000]]:
        raw.append(0)
        for v in r:
            raw += struct.pack(">H", v)
    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 16, 0, 0, 0, 0))
           + chunk(b"IDAT", _z.compress(bytes(raw)))
           + chunk(b"IEND", b""))
    assert _decode_raster(png) == (3, 2, [0x12, 0xFF, 0x00,
                                          0xAB, 0x00, 0x80])
    # 16-bit RGB through the Sub filter (byte-stride = 6)
    pix = [(0x1000, 0x2000, 0x3000), (0x0100, 0x0100, 0x0100)]
    orig = b"".join(struct.pack(">HHH", *p) for p in pix)
    filt = bytes([1]) + bytes(
        (orig[j] - (orig[j - 6] if j >= 6 else 0)) & 0xFF
        for j in range(len(orig))
    )
    png2 = (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 16, 2, 0, 0, 0))
            + chunk(b"IDAT", _z.compress(filt))
            + chunk(b"IEND", b""))
    exp = [(0x10 * 299 + 0x20 * 587 + 0x30 * 114) // 1000,
           (0x01 * 299 + 0x01 * 587 + 0x01 * 114) // 1000]
    assert _decode_raster(png2) == (2, 1, exp)


def test_ivf_assignment_and_search_semantics(spark):
    # IVF (r6): deterministic Lloyd's — same result twice, every vector
    # assigned, probes bound the candidate set, brute-force agreement
    # on the probed cells
    from html5ever_elixir_spark.operators.similarity import (
        ann_ivf_topk,
        ivf_assign,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a1, c1 = ivf_assign(emb, k=4, iters=2)
    a2, _ = ivf_assign(emb, k=4, iters=2)
    r1 = sorted((r.vec_id, r.cell) for r in a1.collect())
    r2 = sorted((r.vec_id, r.cell) for r in a2.collect())
    assert r1 == r2 and len(r1) == emb.count()
    assert {c for _, c in r1} <= set(range(4))
    top = ann_ivf_topk(emb, n_queries=5, k_top=3, k_cells=4).collect()
    assert all(1 <= r.rank <= 3 for r in top)
    assert all(r.query_id != r.neighbor_id for r in top)
    # ranks are dense per query and sims non-increasing
    by_q = {}
    for r in top:
        by_q.setdefault(r.query_id, []).append((r.rank, r.sim))
    for q, rs in by_q.items():
        rs.sort()
        assert [x[0] for x in rs] == list(range(1, len(rs) + 1))
        sims = [x[1] for x in rs]
        assert sims == sorted(sims, reverse=True)


def test_lm_buckets_semantics(spark):
    # CCNet head/middle/tail: per-lang ntile, head = most reference-like
    # (lowest score); buckets are balanced within ±1 per lang
    from html5ever_elixir_spark.operators.textstats import lm_buckets

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = lm_buckets(docs.where("doc_id % 10 <> 0"),
                     docs.where("doc_id % 10 = 0")).collect()
    assert {r.bucket for r in out} == {1, 2, 3}
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rows in by_lang.items():
        sizes = [sum(1 for r in rows if r.bucket == b) for b in (1, 2, 3)]
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)
        # scores non-decreasing across buckets
        b1 = max(r.lm_score for r in rows if r.bucket == 1)
        b3 = min(r.lm_score for r in rows if r.bucket == 3)
        assert b1 <= b3 + 1e-9
