"""Property-based tests (Hypothesis) for the ingest literal pipeline:
arbitrary values survive dump-format serialization → parse → coercion.
Mirrors the reference's literal subset (number/string/bool/NULL + unary
minus, /root/reference/src/line_parser.rs:229–258) but proves it over the
whole space instead of one fixture."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from mysqldump_to_parquet_spark.sources.mysqldump import (
    DML_PREFIXES,
    iter_statements,
    parse_insert,
)


def _sql_escape(s: str) -> str:
    return s.replace("\\", "\\\\").replace("'", "''")


texts = st.text(
    alphabet=st.characters(
        codec="utf-8", exclude_characters="\x00", exclude_categories=("Cs",)
    ),
    max_size=60,
)
values = st.one_of(
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    texts,
    st.booleans(),
    st.none(),
)


def _to_literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, str):
        return "'" + _sql_escape(v) + "'"
    return repr(v)


@given(st.lists(st.lists(values, min_size=1, max_size=8), min_size=1, max_size=5))
@settings(max_examples=200, deadline=None)
def test_insert_roundtrip(rows):
    # all rows padded to the widest row so it's a well-formed INSERT
    width = max(len(r) for r in rows)
    rows = [r + [None] * (width - len(r)) for r in rows]
    stmt = "INSERT INTO `t` VALUES " + ", ".join(
        "(" + ", ".join(_to_literal(v) for v in r) + ")" for r in rows
    ) + ";"
    table, parsed = parse_insert(stmt)
    assert table == "t"
    assert len(parsed) == len(rows)
    for got, want in zip(parsed, rows):
        for g, w in zip(got, want):
            if isinstance(w, float):
                assert isinstance(g, float) and (g == w or abs(g - w) < 1e-300)
            else:
                assert g == w, (g, w)


@given(texts)
@settings(max_examples=100, deadline=None)
def test_statement_reassembly_single_insert(s):
    stmt = f"INSERT INTO `t` VALUES ('{_sql_escape(s)}');"
    # newlines inside literals are escaped in real dumps; feed as one line
    out = list(iter_statements([stmt.encode()]))
    if "\n" not in stmt:
        assert out == [stmt.encode()]


# ------------------------------------------- multiline range ownership


@st.composite
def _random_dump(draw):
    """A synthetic multi-line dump: statements with random line breaks,
    noise lines, string values containing ';' and ')' at line ends.
    INSERTs name mixed-case and prefix-sharing tables (``t``, ``T``,
    ``t2``), quoted or bare, under every DML keyword (lower case too,
    which the grammar drops), and may break their first line before the
    table name."""
    parts = ["-- header comment", "/*!40101 SET NAMES utf8mb4 */;"]
    n = draw(st.integers(1, 12))
    for i in range(n):
        kind = draw(st.sampled_from(["create", "insert", "noise"]))
        if kind == "noise":
            parts.append(draw(st.sampled_from(["", "-- a comment", "  "])))
            continue
        if kind == "create":
            parts += [f"CREATE TABLE `t{i}` (", "  `id` bigint NOT NULL,",
                      "  `v` varchar(32)", ");"]
            continue
        vals = draw(st.lists(st.sampled_from(
            ["'a;'", "'b)'", "'c,('", "42", "NULL", "'x'"]
        ), min_size=1, max_size=4))
        tuples = [f"({j},{v})" for j, v in enumerate(vals)]
        name = draw(st.sampled_from(["t0", "t", "T", "t2", "T2"]))
        spelling = draw(st.sampled_from(["`{}`", '"{}"', "{}"])).format(name)
        keyword = draw(st.sampled_from(DML_PREFIXES + ("insert into",)))
        head = f"{keyword} {spelling} VALUES"
        layout = draw(
            st.sampled_from(["oneline", "tuple_lines", "ragged", "split_head"])
        )
        if layout == "oneline":
            parts.append(f"{head} {','.join(tuples)};")
        elif layout == "tuple_lines":
            parts.append(head)
            parts += [t + "," for t in tuples[:-1]]
            parts.append(tuples[-1] + ";")
        elif layout == "split_head":  # the first line ends before the name
            words = head.split(" ")
            cut = draw(st.integers(1, len(words) - 1))
            parts += [" ".join(words[:cut]),
                      " ".join(words[cut:]) + f" {','.join(tuples)};"]
        else:  # ragged: break after commas inside the VALUES list
            text = f"{head} {', '.join(tuples)};"
            cut = draw(st.integers(10, max(11, len(text) - 2)))
            at = text.rfind(",", 0, cut)
            if at > 0:
                parts += [text[: at + 1], text[at + 1 :].strip()]
            else:
                parts.append(text)
    return "\n".join(parts) + "\n"


@given(_random_dump(), st.integers(3, 200))
@settings(max_examples=60, deadline=None)
def test_range_ownership_partitions_any_dump(tmp_path_factory, dump, step):
    """For ANY dump layout and ANY split size, concatenating each
    range's owned statements in offset order reproduces the sequential
    reassembly exactly — no statement lost, duplicated, or reordered."""
    from mysqldump_to_parquet_spark.sources.mysqldump import (
        _carve_ranges,
        _range_statements,
        iter_statements,
    )

    d = tmp_path_factory.mktemp("rng")
    f = d / "dump.sql"
    f.write_text(dump)
    got: list[bytes] = []
    for path, lo, hi in _carve_ranges([(str(f), f.stat().st_size)], step):
        got.extend(_range_statements(path, lo, hi))
    assert got == list(iter_statements(dump.encode().splitlines()))


@given(_random_dump(), st.integers(3, 200))
@settings(max_examples=60, deadline=None)
def test_head_filter_keeps_exactly_the_routed_statements(
    tmp_path_factory, dump, step
):
    """A range read kept to one table yields exactly the statements the
    unfiltered stream routes to that table (prefix-sharing and
    mixed-case names, quoted or bare, every DML keyword, first lines
    that end before the name), and the DDL filter yields exactly the
    non-INSERT statements — never an INSERT."""
    from mysqldump_to_parquet_spark.sources.mysqldump import (
        _DDL,
        _carve_ranges,
        _range_statements,
        _route,
    )

    d = tmp_path_factory.mktemp("heads")
    f = d / "dump.sql"
    f.write_text(dump)
    ranges = _carve_ranges([(str(f), f.stat().st_size)], step)

    def read(routes=None):
        return [s for r in ranges for s in _range_statements(*r, routes)]

    everything = read()
    for table in {"t", "t2", "t0"} | {_route(s) for s in everything} - {_DDL}:
        assert read((table,)) == [s for s in everything if _route(s) == table]
    ddl = read((_DDL,))
    assert ddl == [s for s in everything if _route(s) == _DDL]
    assert not any(s[:7].upper().startswith((b"INSERT", b"REPLACE")) for s in ddl)


# --------------------------------------------------------- DDL fuzzing

_ident = st.from_regex(r"[a-z][a-z0-9_]{0,10}", fullmatch=True)
_nasty_literal = st.text(
    alphabet=st.sampled_from(list("abc()',\\ null NOT NULL unsigned")),
    max_size=12,
)


@st.composite
def _column_defs(draw):
    """(ddl_fragment, expected_type_kind, expected_nullable)"""
    from pyspark.sql import types as T

    name = draw(_ident)
    kind = draw(st.sampled_from(["int", "varchar", "decimal", "enum", "double"]))
    if kind == "int":
        type_sql, expect = "bigint", T.LongType()
    elif kind == "varchar":
        type_sql, expect = "varchar(32)", T.StringType()
    elif kind == "double":
        type_sql, expect = "double", T.DoubleType()
    elif kind == "decimal":
        p = draw(st.integers(2, 30))
        s = draw(st.integers(0, min(p, 10)))
        type_sql, expect = f"decimal({p},{s})", T.DecimalType(p, s)
    else:
        vals = draw(st.lists(_nasty_literal, min_size=1, max_size=3))
        quoted = ",".join("'" + v.replace("\\", "\\\\").replace("'", "''") + "'"
                          for v in vals)
        type_sql, expect = f"enum({quoted})", T.StringType()
    opt = draw(st.sampled_from(["", "NOT NULL", "NULL", "DEFAULT NULL"]))
    comment = draw(st.sampled_from(["", "COMMENT 'not null ) stuff'"]))
    nullable = opt != "NOT NULL"
    frag = " ".join(x for x in (f"`{name}`", type_sql, opt, comment) if x)
    return name, frag, expect, nullable


@given(st.lists(_column_defs(), min_size=1, max_size=6, unique_by=lambda c: c[0]))
@settings(max_examples=150, deadline=None)
def test_create_table_fuzz(cols):
    from mysqldump_to_parquet_spark.sources.mysqldump import parse_create_table

    ddl = "CREATE TABLE `t` (" + ", ".join(f for _, f, _, _ in cols) + ");"
    ts = parse_create_table(ddl)
    got = [(f.name, f.dataType, f.nullable) for f in ts.schema.fields]
    want = [(n, t, nl) for n, _, t, nl in cols]
    assert got == want, f"\nddl={ddl}\ngot={got}\nwant={want}"


@given(
    st.integers(min_value=1, max_value=9),
    st.integers(min_value=1, max_value=6),
    st.binary(min_size=0, max_size=0),  # seed placeholder keeps signature clear
    st.randoms(use_true_random=False),
)
@settings(max_examples=100, deadline=None)
def test_bmp_codec_roundtrip_fuzz(w, h, _seed, rnd):
    """encode_bmp → decode_bmp is identity for arbitrary pixel data at
    arbitrary (padded and unpadded) widths."""
    from mysqldump_to_parquet_spark.llm.multimodal import decode_bmp, encode_bmp

    rgb = bytes(rnd.randrange(256) for _ in range(w * h * 3))
    assert decode_bmp(encode_bmp(w, h, rgb)) == (w, h, rgb)


def test_arrow_fast_path_matches_exhaustive_on_hostile_strings():
    """Randomized differential for the escape-resolving Arrow fast path:
    strings mixing both quote-escape forms (\\' and ''), backslash runs,
    semantic escapes, unknown escapes, multibyte UTF-8, and top-level
    lookalike bytes (commas/parens) must decode identically to the
    exhaustive tokenizer — and none may fall back: the ``\\0`` escape
    rides the payload as SOH and maps back to NUL."""
    import random

    from pyspark.sql import types as T

    from mysqldump_to_parquet_spark.sources.mysqldump import (
        _arrow_fast_types,
        _arrow_read_values,
        _values_csv_bytes,
        parse_insert_full,
    )

    rng = random.Random(42)
    chars = ["a", "b", "é", "中", " ", ",", "(", ")", "'", "\\", "\n", "\t",
             "%", "_", "0", "x"]

    def mk_string():
        out = []
        for _ in range(rng.randint(0, 12)):
            c = rng.choice(chars)
            if c == "'":
                out.append(rng.choice(["''", "\\'"]))
            elif c == "\\":
                out.append(rng.choice(["\\\\", "\\n", "\\t", "\\0", "\\Z",
                                       "\\b", "\\r", "\\%", "\\_", "\\q"]))
            elif c == "\n":
                out.append("\\n")
            elif c == "\t":
                out.append("\\t")
            else:
                out.append(c)
        return "".join(out)

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("s", T.StringType()),
            T.StructField("d", T.DoubleType()),
        ]
    )
    ft = _arrow_fast_types(schema)
    names = [f.name for f in schema.fields]
    nul_stmts = 0
    for _ in range(150):
        body = ",".join(
            f"({i},'{mk_string()}',{rng.choice(['NULL', '1.5', '-2.25', '3'])})"
            for i in range(rng.randint(1, 8))
        )
        stmt = f"INSERT INTO `t` VALUES {body};"
        _, _, slow = parse_insert_full(stmt)
        nul_stmts += any("\x00" in r[1] for r in slow if r[1] is not None)
        fb = _values_csv_bytes(stmt.encode())
        assert fb is not None, stmt[:200]
        tbl = _arrow_read_values(fb[0], names, ft)
        fast = [tuple(d.values()) for d in tbl.to_pylist()]
        conv = [
            tuple(float(v) if isinstance(v, float) else v for v in r)
            for r in slow
        ]
        assert fast == conv, stmt[:200]
    # the generator draws the \0 escape, so NUL text is exercised
    assert nul_stmts > 0


def test_arrow_fast_path_matches_exhaustive_on_hostile_binary():
    """Randomized differential for hex and bit literals on the fast path:
    ``0x…``, ``X'…'`` and ``b'…'`` mixed with quoted strings (``'0x41'``
    among them) in one binary column, bytes drawn from a pool with NUL,
    quote, backslash and newline, into BLOB, BIT(8), BIT(64) and text
    columns — every statement stays on the fast path and decodes as the
    exhaustive tokenizer does.  Then the cases that must fall back:
    each is refused by the scan or raises in the read, and the group
    still ends where the tokenizer ends (same rows, or DumpParseError)."""
    import random
    from decimal import Decimal

    import pytest
    from pyspark.sql import types as T

    from mysqldump_to_parquet_spark.sources.mysqldump import (
        DumpParseError,
        _arrow_fast_types,
        _arrow_read_values,
        _values_csv_bytes,
        coerce_row,
        parse_create_table,
        parse_insert_full,
        parse_statements,
    )

    rng = random.Random(11)
    pool = [0x00, 0x27, 0x5C, 0x0A, 0x41, 0x30, 0x78, 0xFF, 0x80, 0x01]
    quoted_pool = ["a", "0", "x", "é", "中", ",", "(", ")", "''", "\\'",
                   "\\\\", "\\n", "\\0", "\\Z", " "]

    def mk_hex(nbytes):
        raw = bytes(
            rng.choice(pool) if rng.random() < 0.7 else rng.randrange(256)
            for _ in range(nbytes)
        )
        digits = raw.hex()
        digits = digits.upper() if rng.random() < 0.5 else digits
        return rng.choice(["0x{}", "X'{}'", "x'{}'"]).format(digits)

    def mk_bits(nbits):
        return rng.choice("bB") + "'" + "".join(
            rng.choice("01") for _ in range(nbits)
        ) + "'"

    def payload():
        r = rng.random()
        if r < 0.35:
            return mk_hex(rng.randint(0, 12))
        if r < 0.5:
            return mk_bits(rng.randint(0, 20))
        if r < 0.6:
            return "NULL"
        if r < 0.65:
            return "'0x41'"
        return "'" + "".join(
            rng.choice(quoted_pool) for _ in range(rng.randint(0, 8))
        ) + "'"

    def small():
        return rng.choice(
            [mk_hex(rng.randint(0, 7)), mk_bits(rng.randint(0, 63)),
             str(rng.randrange(256)), "NULL"]
        )

    def big():
        return rng.choice(
            [mk_hex(rng.randint(0, 8)), mk_bits(rng.randint(0, 64)),
             str(rng.randrange(2**64)), "NULL"]
        )

    schema = parse_create_table(
        "CREATE TABLE `t` (`id` bigint, `payload` blob, `bits` bit(8),"
        " `big` bit(64), `caption` varchar(20))"
    ).schema

    def tokenizer(stmt, schema=schema):
        return [
            dict(zip([f.name for f in schema.fields],
                     coerce_row(tup, schema, "t")))
            for tup in parse_insert_full(stmt)[2]
        ]

    def fast(stmt, schema=schema):
        fb = _values_csv_bytes(stmt.encode())
        if fb is None:
            return None
        return _arrow_read_values(
            fb[0], [f.name for f in schema.fields], _arrow_fast_types(schema)
        )

    def assert_falls_back(stmt, schema=schema):
        try:
            tbl = fast(stmt, schema)
        except Exception:
            tbl = None
        assert tbl is None, stmt[:200]
        try:
            want = tokenizer(stmt, schema)
        except DumpParseError:
            with pytest.raises(DumpParseError):
                parse_statements([stmt.encode()], "t", schema)
            return
        for r in want:  # DECIMAL text (the BIT(64) carrier) → final value
            for f in schema.fields:
                if isinstance(f.dataType, T.DecimalType) and r[f.name] is not None:
                    r[f.name] = Decimal(r[f.name])
        assert parse_statements([stmt.encode()], "t", schema).to_pylist() == want

    def row(i, caption="'c''1'"):
        return f"({i},{payload()},{small()},{big()},{caption})"

    for _ in range(200):
        body = ",".join(row(i) for i in range(rng.randint(1, 8)))
        stmt = f"INSERT INTO `t` VALUES {body};"
        tbl = fast(stmt)
        assert tbl is not None, stmt[:200]
        assert tbl.to_pylist() == tokenizer(stmt), stmt[:200]

    bad_fields = [
        ("caption", lambda: mk_hex(rng.randint(0, 4))),  # hex into text
        ("caption", lambda: mk_bits(rng.randint(0, 9))),  # bits into text
        ("payload", lambda: "0x" + "a" * rng.choice([1, 3, 5])),  # odd
        ("payload", lambda: rng.choice(["0x4G", "X'0g'", "b'012'"])),
        ("bits", lambda: mk_hex(rng.randint(9, 12))),  # > 8 bytes
        ("big", lambda: "0x" + "ab" * 9),
        ("payload", lambda: "'raw\x02stand-in'"),
        ("payload", lambda: "'raw\x03stand-in'"),
    ]
    for _ in range(60):
        col, gen = rng.choice(bad_fields)
        vals = {"payload": payload(), "bits": small(), "big": big(),
                "caption": "'x'"}
        vals[col] = gen()
        bad = "(9,{payload},{bits},{big},{caption})".format(**vals)
        assert_falls_back(f"INSERT INTO `t` VALUES {row(1)},{bad},{row(2)};")
    # a stand-in token in a DOUBLE column: the read raises, and the
    # tokenizer takes the statement (b'1' is 1.0 there, 0x41 raises)
    double_schema = parse_create_table(
        "CREATE TABLE `t` (`id` bigint, `d` double)"
    ).schema
    for lit in ("b'1'", "0x41", "X'41'"):
        assert_falls_back(
            f"INSERT INTO `t` VALUES (1,2.5),(2,{lit});", double_schema
        )


def test_glued_introducers_always_fall_back_and_parse(spark=None):
    """Randomized guard check (round-3 ADVICE, high): any statement with
    a charset introducer glued to a quoted literal must be REJECTED by
    the fast path's quote-boundary scan (never silently kept as literal
    bytes) and parse introducer-free through the exhaustive grammar."""
    import random

    from mysqldump_to_parquet_spark.sources.mysqldump import (
        _values_csv_bytes,
        parse_insert_full,
    )

    rng = random.Random(7)
    intros = ["_utf8mb4", "_utf8", "_latin1", "_binary"]
    for _ in range(100):
        n = rng.randint(1, 5)
        vals, want, intro_at = [], [], rng.randrange(n)
        for i in range(n):
            s = "".join(rng.choice("abxyz") for _ in range(rng.randint(1, 6)))
            if i == intro_at:
                vals.append(f"{rng.choice(intros)}'{s}'")
            else:
                vals.append(f"'{s}'")
            want.append(s)
        stmt = (
            "INSERT INTO `t` VALUES ("
            + "),(".join(f"{i},{v}" for i, v in enumerate(vals))
            + ");"
        )
        assert _values_csv_bytes(stmt.encode()) is None, stmt
        _, _, rows = parse_insert_full(stmt)
        assert [r[1] for r in rows] == want, stmt


# ---------------------------------------------------------------------------
# JPEG codec properties (r13): Hypothesis explores MCU-grid geometries,
# color extremes, restart intervals, and truncation points the fixed
# fixture can't.  Pure Python — no Spark jobs per example.
# ---------------------------------------------------------------------------


@given(
    mw=st.integers(min_value=1, max_value=4),
    mh=st.integers(min_value=1, max_value=3),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    ri=st.sampled_from([0, 1, 2, 5]),
)
@settings(max_examples=40, deadline=None)
def test_jpeg_roundtrip_property(mw, mh, seed, ri):
    """encode → decode is EXACT for any constant-MCU image at any grid
    size, color content, and restart interval — the DC-only × flat-q
    exactness argument (multimodal._JPEG_Q) holds everywhere, not just
    on the fixture formula."""
    import random as _random

    from mysqldump_to_parquet_spark.llm.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = _random.Random(seed)
    colors = [
        [
            (rng.randrange(256), rng.randrange(256), rng.randrange(256))
            for _ in range(mw)
        ]
        for _ in range(mh)
    ]
    w, h = 16 * mw, 16 * mh
    gw, gh, (py, pcb, pcr) = decode_jpeg(
        encode_jpeg(w, h, colors, restart_interval=ri)
    )
    assert (gw, gh) == (w, h)
    for my in range(mh):
        for mx in range(mw):
            yv, cbv, crv = colors[my][mx]
            assert py[(my * 16 + 7) * w + mx * 16 + 7] == yv
            assert pcb[(my * 8 + 3) * (w // 2) + mx * 8 + 3] == cbv
            assert pcr[(my * 8 + 4) * (w // 2) + mx * 8 + 4] == crv
    assert sum(py) == 256 * sum(c[0] for row in colors for c in row)


@given(
    cut=st.integers(min_value=2, max_value=400),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=60, deadline=None)
def test_jpeg_truncation_never_escapes_valueerror(cut, seed):
    """Truncating a valid stream at ANY byte offset either still
    decodes fully and correctly (cut past the entropy data — the
    decoder does not require trailing EOI) or raises ValueError — never
    IndexError/KeyError/struct.error (the PNG r12 error-contract
    standard, fuzzed instead of enumerated)."""
    import random as _random

    from mysqldump_to_parquet_spark.llm.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = _random.Random(seed)
    colors = [[(rng.randrange(256), rng.randrange(256), rng.randrange(256))
               for _ in range(2)] for _ in range(1)]
    data = encode_jpeg(32, 16, colors)
    cut = min(cut, len(data) - 1)
    try:
        w, h, planes = decode_jpeg(data[:cut])
    except ValueError:
        return  # the contract
    # decoded without error: must be the complete, correct image
    assert (w, h) == (32, 16)
    assert planes[0][7 * 32 + 7] == colors[0][0][0]
    assert planes[0][7 * 32 + 16 + 7] == colors[0][1][0]
