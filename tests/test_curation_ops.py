"""Round-6 curation operators: intra-doc line dedup, corpus-level repeated
chunk removal, PII scrubbing (with a DuckDB regex-parity cross-check),
benchmark decontamination, and token-budget sequence packing."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# remove_repeated_lines


def test_remove_repeated_lines_keeps_first_occurrence_order(spark):
    from woe_monotonic_binning_spark.operators.text import remove_repeated_lines

    df = spark.createDataFrame(
        [
            (0, "alpha\nbeta\nalpha\ngamma\nbeta"),
            (1, "solo"),
            (2, "x\nx\nx\nx"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in remove_repeated_lines(df).collect()}
    assert out[0].text == "alpha\nbeta\ngamma"
    assert out[0].n_lines_removed == 2
    assert out[1].text == "solo" and out[1].n_lines_removed == 0
    assert out[2].text == "x" and out[2].n_lines_removed == 3


def test_remove_repeated_lines_literal_separator(spark):
    """``sep`` is a literal, not a regex: a ``"."`` separator must split on
    actual dots, not on every character (round-6 VERDICT nit — F.split
    treats its pattern as a regex, so the separator is backslash-quoted)."""
    from woe_monotonic_binning_spark.operators.text import remove_repeated_lines

    df = spark.createDataFrame(
        [(0, "one.two.one.three"), (1, "a|b|a")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in remove_repeated_lines(df, sep=".").collect()}
    assert out[0].text == "one.two.three"
    assert out[0].n_lines_removed == 1
    # '|' (regex alternation — matches the empty string at every position
    # if unquoted) must also behave as a plain delimiter
    out = {r.doc_id: r for r in remove_repeated_lines(df, sep="|").collect()}
    assert out[1].text == "a|b"
    assert out[1].n_lines_removed == 1


def test_remove_repeated_lines_matches_duckdb_ordered_distinct(spark):
    """DuckDB's list_distinct does not guarantee order, so the oracle uses an
    index-aware list_filter; Spark's array_distinct documents first-occurrence
    order — this pins that the two agree on a real corpus reshaped to have
    lines (and therefore that array_distinct's order contract holds)."""
    from woe_monotonic_binning_spark.operators.text import remove_repeated_lines

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("doc_id") < 50)
        .withColumn("text", F.concat("text", F.lit("\n"), "text", F.lit("\ntail")))
    )
    got = (
        remove_repeated_lines(docs)
        .select("doc_id", "text", "n_lines_removed")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW d AS SELECT doc_id, "
        "concat(text, chr(10), text, chr(10), 'tail') AS text "
        "FROM '/root/testdata/sf0.001/documents.parquet' WHERE doc_id < 50"
    )
    exp = con.execute(
        """
        SELECT doc_id,
               array_to_string(
                 list_filter(str_split(text, chr(10)),
                             (x, i) -> list_position(str_split(text, chr(10)), x) = i),
                 chr(10)) AS text,
               len(str_split(text, chr(10)))
                 - len(list_filter(str_split(text, chr(10)),
                       (x, i) -> list_position(str_split(text, chr(10)), x) = i))
                 AS n_lines_removed
        FROM d ORDER BY doc_id
        """
    ).fetchdf()
    assert got["text"].tolist() == exp["text"].tolist()
    assert got["n_lines_removed"].tolist() == exp["n_lines_removed"].astype(int).tolist()


# ---------------------------------------------------------------------------
# remove_repeated_chunks


def test_remove_repeated_chunks_cuts_corpus_boilerplate(spark):
    from woe_monotonic_binning_spark.operators.text import remove_repeated_chunks

    boiler = "cookie notice please accept"  # 4 words = 1 chunk at chunk_words=4
    df = spark.createDataFrame(
        [
            (0, f"{boiler} unique words here aaa"),
            (1, f"{boiler} other words here bbb"),
            (2, "totally unrelated text ccc"),
            (3, boiler),  # entirely boilerplate -> empty text
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in remove_repeated_chunks(df, chunk_words=4, min_df=2).collect()
    }
    assert out[0].text == "unique words here aaa"
    assert out[0].n_chunks_removed == 1
    assert out[1].text == "other words here bbb"
    assert out[2].text == "totally unrelated text ccc"
    assert out[2].n_chunks_removed == 0
    assert out[3].text == "" and out[3].n_chunks_removed == 1


def test_remove_repeated_chunks_min_df_counts_distinct_docs(spark):
    """A chunk repeated WITHIN one doc but absent elsewhere must survive a
    min_df=2 cut — document frequency is distinct-doc count, not occurrence
    count."""
    from woe_monotonic_binning_spark.operators.text import remove_repeated_chunks

    df = spark.createDataFrame(
        [(0, "rep rep rep rep rep rep rep rep"), (1, "other text entirely four")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in remove_repeated_chunks(df, chunk_words=4, min_df=2).collect()
    }
    assert out[0].n_chunks_removed == 0
    assert out[0].text == "rep rep rep rep rep rep rep rep"


def test_remove_repeated_chunks_exact_dups_lose_everything(spark):
    """Planted exact duplicate docs share every chunk, so with min_df=2 both
    copies empty out while unrelated docs are untouched (the operator is a
    passage filter, not a dedup — both copies are rewritten)."""
    from woe_monotonic_binning_spark.operators.text import remove_repeated_chunks

    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(20)
    clone = base.filter(F.col("doc_id") == 0).withColumn(
        "doc_id", F.col("doc_id") + 777000
    )
    out = remove_repeated_chunks(
        base.unionByName(clone), chunk_words=5, min_df=2
    )
    row0 = out.filter(F.col("doc_id").isin(0, 777000)).collect()
    assert all(r.text == "" for r in row0)
    # at least one unrelated doc keeps all its chunks
    untouched = out.filter(
        (F.col("doc_id") > 0) & (F.col("doc_id") < 777000) & (F.col("n_chunks_removed") == 0)
    )
    assert untouched.count() > 0


# ---------------------------------------------------------------------------
# scrub_pii


def test_scrub_pii_masks_and_counts(spark):
    from woe_monotonic_binning_spark.operators.text import scrub_pii

    df = spark.createDataFrame(
        [
            (0, "mail me at jane.doe+x@example.co.uk or bob@test.org thanks"),
            (1, "server 10.0.255.1 and 192.168.1.77 up"),
            (2, "call 555-867-5309 or 555.123.4567 now"),
            (3, "clean text no pii"),
            (4, "ring (555) 867-5309 or (555)867-5309 or 555 867 5309"),
            (5, "node fe80:0:0:0:202:b3ff:fe1e:8329 and 2001:db8:85a3:0:0:8a2e:370:7334 up"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in scrub_pii(df).collect()}
    assert out[0].text == "mail me at <EMAIL> or <EMAIL> thanks"
    assert out[0].n_email == 2 and out[0].n_ip == 0 and out[0].n_phone == 0
    assert out[1].text == "server <IP> and <IP> up"
    assert out[1].n_ip == 2
    assert out[2].text == "call <PHONE> or <PHONE> now"
    assert out[2].n_phone == 2
    assert out[3].text == "clean text no pii"
    assert out[3].n_email == out[3].n_ip == out[3].n_phone == 0
    # paren phones mask as their own kind (with or without the space);
    # the space-separated bare form is the widened phone class — and the
    # bare pattern never double-counts the local part of a paren number
    assert out[4].text == "ring <PHONE_PAREN> or <PHONE_PAREN> or <PHONE>"
    assert out[4].n_phone_paren == 2 and out[4].n_phone == 1
    # full-form (8-group) ipv6 masks; v4 counts untouched
    assert out[5].text == "node <IPV6> and <IPV6> up"
    assert out[5].n_ipv6 == 2 and out[5].n_ip == 0


def test_scrub_pii_patterns_parse_identically_in_duckdb(spark):
    """The docstring claims Java-regex/RE2 parity for every PII pattern;
    this runs both engines over the same adversarial rows and compares
    match counts and the fully-scrubbed text byte-for-byte."""
    from woe_monotonic_binning_spark.operators.text import PII_PATTERNS, scrub_pii

    rows = [
        (0, "a@b.co 1.2.3.4 999-999-9999 edge@sub.domain.example.com"),
        (1, "not.an.email@ 1.2.3 12-34-5678 999.999.9999"),
        (2, "x@y.zz.ww 255.255.255.255 000-000-0000 trailing"),
        (3, "dots..everywhere..@..dots 1...2...3...4"),
        (4, "(555) 867-5309 (555)867-5309 (55) 867-5309 (5555) 867-5309"),
        (5, "555 867 5309 mixed 555-867 5309 and 555.867 5309"),
        (6, "fe80:0:0:0:202:b3ff:fe1e:8329 FE80:CAFE:BABE:DEAD:BEEF:0:0:1"),
        (7, "short a:b:c:d 1:2:3:4:5:6:7:8 too:long:1:2:3:4:5:6:7:8:9"),
        (8, "boundary x1:2:3:4:5:6:7:8 and 1:2:3:4:5:6:7:8x end"),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    got = (
        scrub_pii(spark.createDataFrame(pdf))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("t", pdf)
    scrub_sql = "text"
    count_cols = []
    for kind, pat in PII_PATTERNS.items():
        count_cols.append(
            f"len(regexp_extract_all(text, '{pat}')) AS n_{kind}"
        )
        scrub_sql = f"regexp_replace({scrub_sql}, '{pat}', '<{kind.upper()}>', 'g')"
    exp = con.execute(
        f"SELECT doc_id, {', '.join(count_cols)}, {scrub_sql} AS text "
        "FROM t ORDER BY doc_id"
    ).fetchdf()
    for kind in PII_PATTERNS:
        assert got[f"n_{kind}"].tolist() == exp[f"n_{kind}"].astype(int).tolist(), kind
    assert got["text"].tolist() == exp["text"].tolist()


# ---------------------------------------------------------------------------
# HTML -> text extraction (round 14)


def test_extract_html_text_behavior(spark):
    """The documented semantics over adversarial markup: quoted '>' in
    attributes, entity single-decode (&amp;lt; stays literal), CDATA /
    script / style / comment removal, nav-line link-density gate,
    NULL-in-NULL-out, markup-free passthrough."""
    from woe_monotonic_binning_spark.operators.text import extract_html_text

    rows = [
        (0, '<html><head><script type="text/javascript">var x = 1 < 2;'
            "</script><style>.a{color:red}</style><!-- note --></head>"
            "<body><h1>Title</h1><p>Hello &amp; welcome, 5 &lt; 7.</p>"
            '<div><a href="/a">Home</a> <a href="/b">About</a></div>'
            '<p title="a>b">Attr text</p>'
            '<p>Read <a href="/x">the docs</a> for much more detail.</p>'
            "<![CDATA[raw junk]]><p>Tail&nbsp;end &amp;lt; stays</p>"
            "</body></html>"),
        (1, None),
        (2, "no markup at all"),
        (3, '<ul><li><a href="/1">One</a></li><li><a href="/2">Two</a>'
            "</li></ul><p>normal prose line</p>"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, html string")
    out = {r.doc_id: r for r in extract_html_text(df).collect()}
    assert out[0].text == (
        "Title\nHello & welcome, 5 < 7.\nAttr text\n"
        "Read the docs for much more detail.\nTail end &lt; stays"
    )
    assert (out[0].n_lines, out[0].n_lines_dropped, out[0].n_links) == (5, 1, 3)
    assert out[1].text is None and out[1].n_lines is None
    assert out[2].text == "no markup at all" and out[2].n_links == 0
    # the two pure-link list items drop, the prose line survives
    assert out[3].text == "normal prose line"
    assert (out[3].n_lines, out[3].n_lines_dropped, out[3].n_links) == (1, 2, 2)


def test_extract_html_text_link_density_per_anchor(spark):
    """Link density sums per-anchor visible-text lengths — NOT the
    space-joined concatenation (ADVICE r15): '<a>ab</a> x <a>ab</a>'
    renders 'ab x ab' (7 visible chars, 4 inside anchors => 4/7 > 0.5
    would drop; the old joined measure also added the separator).  A
    line at exactly the boundary must KEEP: 'aa bb <a>c</a> <a>d</a>'
    -> 'aa bb c d' is 9 chars, 2 link chars, 2/9 <= 0.5 keep; with the
    joined measure the anchors 'c d' counted 3."""
    from woe_monotonic_binning_spark.operators.text import extract_html_text

    rows = [
        # 2 one-char anchors in a 5-visible-char line: per-anchor al=2,
        # 2 <= 0.5*5 => KEEP.  Joined measure gave al=3 > 2.5 => drop.
        (0, "<p><a href='/x'>a</a> z <a href='/y'>b</a></p>"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, html string")
    r = extract_html_text(df).collect()[0]
    assert r.text == "a z b"
    assert (r.n_lines, r.n_lines_dropped, r.n_links) == (1, 0, 2)


def test_extract_html_text_refuses_metadata_clobber(spark):
    """Pre-existing title/n_lines/... columns raise instead of being
    silently overwritten; title_col= redirects the title output
    (ADVICE r15)."""
    import pytest as _pytest

    from woe_monotonic_binning_spark.operators.text import extract_html_text

    df = spark.createDataFrame(
        [(0, "<title>T</title><p>body</p>", "keep me")],
        "doc_id long, html string, title string",
    )
    with _pytest.raises(ValueError, match="title"):
        extract_html_text(df)
    r = extract_html_text(df, title_col="html_title").collect()[0]
    assert r.title == "keep me" and r.html_title == "T"
    df2 = spark.createDataFrame(
        [(0, "<p>x</p>", 9)], "doc_id long, html string, n_links int"
    )
    with _pytest.raises(ValueError, match="n_links"):
        extract_html_text(df2)


def test_extract_html_text_in_place_overwrite(spark):
    """html_col == text_col (in-place extraction) must compute every
    output — including n_links — from the ORIGINAL markup, not from the
    already-extracted text (round-14 self-overwrite review)."""
    from woe_monotonic_binning_spark.operators.text import extract_html_text

    df = spark.createDataFrame(
        [(0, '<p>Read <a href="/x">docs</a> now</p>'
             '<div><a href="/a">A</a> <a href="/b">B</a></div>')],
        "doc_id long, text string",
    )
    r = extract_html_text(df, html_col="text", text_col="text").collect()[0]
    assert r.text == "Read docs now"
    assert (r.n_lines, r.n_lines_dropped, r.n_links) == (1, 1, 3)


def test_extract_html_text_matches_duckdb_twin(spark):
    """Cross-engine parity: the DuckDB twin built from the SAME pattern
    constants (html_lines_sql / html_fragment_sql / html_anchors_sql)
    reproduces text, line counts and link counts byte-for-byte over
    adversarial rows — nested tags, attributes containing '>', entities,
    CDATA, unclosed script, self-closing tags, bare '<' in prose."""
    from woe_monotonic_binning_spark.operators.text import (
        extract_html_text,
        html_anchors_sql,
        html_fragment_sql,
        html_lines_sql,
        html_link_chars_sql,
        html_title_sql,
    )

    rows = [
        (0, "<p>outer <b>bold <i>nested</i></b> end</p>"),
        (1, '<p title="a>b" data-x=\'c>d\'>quoted attrs</p>'),
        (2, "<p>&amp;lt; &quot;q&quot; &apos;a&apos; &#39;n&#39; "
            "&nbsp;sp&#160;end &unknown; &#x41;</p>"),
        (3, "<![CDATA[gone]]><p>kept</p><!-- gone too -->"),
        (4, "<script>unclosed script body <p>swallowed?</p>"),
        (5, "<br/><hr/><p>self closing</p><img src='x'/>"),
        (6, "prose where 1 < 2 and 3 > 2 stays prose"),
        (7, "<SCRIPT>UPPER</SCRIPT><P>case insensitive</P>"),
        (8, '<div><a href="/o">Only link</a></div>'
            '<div>half <a href="/h">link text here</a></div>'),
        (9, "<p>an <abbr>abbr</abbr> is not an <a href='/a'>anchor</a></p>"),
        (10, "<ul><li>item one</li><li>item two</li></ul>"),
        (11, "<pre>  spaced   text  </pre>"),
        (12, "<h1>h</h1><h6>six</h6><hr><table><tr><td>cell</td></tr></table>"),
        (13, ""),
        (14, "<p>tab\there\nnewline\x0bvt\fff\rcr</p>"),
        (15, "<a href='/x'>nested <a href='/y'>anchor</a> tail</a> after"),
        (16, "<head><title>  A &amp; B\n  news </title></head><p>body</p>"),
        (17, '<title data-x="y>z">Attr title</title><title>second</title>'),
        # round 15: the per-anchor link-density measure — multi-anchor
        # lines exactly at the 0.5 boundary (separator spaces must NOT
        # count as link chars), anchors whose inner whitespace collapses,
        # an anchor that is pure entity text
        (18, "<p><a href='/x'>a</a> z <a href='/y'>b</a></p>"),
        (19, "<p><a>  two   words </a> and padding text here</p>"),
        (20, "<p><a>&amp;&amp;</a> ab</p>"),
        (21, "<div><a>one</a><a>two</a><a>three</a> x</div>"),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "html"])
    got = (
        extract_html_text(spark.createDataFrame(pdf))
        .select("doc_id", "text", "title", "n_lines", "n_lines_dropped",
                "n_links")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("t", pdf)
    anchors = html_anchors_sql("line")
    exp = con.execute(f"""
        WITH norm AS (
          SELECT doc_id, {html_lines_sql("html")} AS h FROM t
        ),
        lines AS (
          SELECT doc_id, i AS pos, ls[i] AS line
          FROM (SELECT doc_id, str_split(h, chr(10)) AS ls FROM norm),
               unnest(range(1, len(ls) + 1)) AS s(i)
        ),
        perline AS (
          SELECT doc_id, pos,
                 {html_fragment_sql("line")} AS t,
                 {html_link_chars_sql("line")} AS al,
                 len({anchors}) AS na
          FROM lines
        ),
        agg AS (
          SELECT doc_id,
                 array_to_string(list(t ORDER BY pos)
                   FILTER (WHERE t <> '' AND al <= 0.5 * length(t)), chr(10)) AS text,
                 count(*) FILTER (WHERE t <> '' AND al <= 0.5 * length(t)) AS n_lines,
                 count(*) FILTER (WHERE t <> '' AND al > 0.5 * length(t)) AS n_dropped,
                 sum(na) AS n_links
          FROM perline GROUP BY doc_id
        )
        SELECT r.doc_id,
               CASE WHEN r.html IS NULL THEN NULL
                    ELSE coalesce(a.text, '') END AS text,
               {html_title_sql("r.html")} AS title,
               CASE WHEN r.html IS NULL THEN NULL
                    ELSE coalesce(a.n_lines, 0) END AS n_lines,
               CASE WHEN r.html IS NULL THEN NULL
                    ELSE coalesce(a.n_dropped, 0) END AS n_lines_dropped,
               CASE WHEN r.html IS NULL THEN NULL
                    ELSE coalesce(a.n_links, 0) END AS n_links
        FROM t r LEFT JOIN agg a USING (doc_id)
        ORDER BY doc_id
    """).fetchdf()
    assert got["text"].tolist() == exp["text"].tolist()
    assert got["title"].tolist() == exp["title"].tolist()
    for c in ("n_lines", "n_lines_dropped", "n_links"):
        assert got[c].tolist() == exp[c].astype(int).tolist(), c


def test_extract_html_text_fuzz_parity(spark):
    """Differential fuzz: 250 seeded random compositions of tags,
    entities, quoted attributes, stray brackets, CDATA/comment/script
    fragments and whitespace varieties — the Spark engine and the DuckDB
    twin must agree byte-for-byte on text/title and exactly on every
    count.  One batched comparison, so the fuzz costs one Spark job."""
    import random

    from woe_monotonic_binning_spark.operators.text import (
        extract_html_text,
        html_anchors_sql,
        html_fragment_sql,
        html_lines_sql,
        html_link_chars_sql,
        html_title_sql,
    )

    rng = random.Random(1405)
    words = ["alpha", "beta", "don't", "a&b", "x<y", "z>w", "5", "&amp;",
             "&lt;", "&nbsp;", "café", "…"]
    tags = ["p", "div", "span", "b", "li", "h2", "a", "pre", "em", "abbr"]
    ws = [" ", "\t", "\n", "\x0b", "\f", "\r", "  "]

    def fragment(depth=0):
        kind = rng.randrange(10)
        if kind < 4 or depth > 3:
            return rng.choice(ws).join(
                rng.choice(words) for _ in range(rng.randrange(1, 5))
            )
        if kind < 7:
            t = rng.choice(tags)
            attrs = ""
            if rng.random() < 0.5:
                q = rng.choice(['"', "'"])
                attrs = f" href={q}/x{rng.randrange(9)}{'>' if rng.random() < 0.3 else ''}{q}"
            inner = "".join(fragment(depth + 1) for _ in range(rng.randrange(0, 3)))
            closer = f"</{t}>" if rng.random() < 0.9 else ""
            return f"<{t}{attrs}>{inner}{closer}"
        if kind == 7:
            return f"<!-- {rng.choice(words)} -->"
        if kind == 8:
            return f"<script>var x = 1 < {rng.randrange(9)};</script>"
        return f"<![CDATA[{rng.choice(words)}]]>"

    docs = []
    for i in range(250):
        body = "".join(fragment() for _ in range(rng.randrange(1, 8)))
        if rng.random() < 0.4:
            body = f"<title>{rng.choice(words)} {rng.choice(words)}</title>" + body
        docs.append((i, body))
    pdf = pd.DataFrame(docs, columns=["doc_id", "html"])
    got = (
        extract_html_text(spark.createDataFrame(pdf))
        .select("doc_id", "text", "title", "n_lines", "n_lines_dropped", "n_links")
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("t", pdf)
    anchors = html_anchors_sql("line")
    keep = "tt <> '' AND al <= 0.5 * length(tt)"
    exp = con.execute(f"""
        WITH norm AS (SELECT doc_id, {html_lines_sql("html")} AS h FROM t),
        lines AS (
          SELECT doc_id, i AS pos, ls[i] AS line
          FROM (SELECT doc_id, str_split(h, chr(10)) AS ls FROM norm),
               unnest(range(1, len(ls) + 1)) AS s(i)
        ),
        perline AS (
          SELECT doc_id, pos, {html_fragment_sql("line")} AS tt,
                 {html_link_chars_sql("line")} AS al,
                 len({anchors}) AS na
          FROM lines
        ),
        agg AS (
          SELECT doc_id,
                 array_to_string(list(tt ORDER BY pos)
                   FILTER (WHERE {keep}), chr(10)) AS text,
                 count(*) FILTER (WHERE {keep}) AS n_lines,
                 count(*) FILTER (WHERE tt <> '' AND al > 0.5 * length(tt))
                   AS n_dropped,
                 sum(na) AS n_links
          FROM perline GROUP BY doc_id
        )
        SELECT r.doc_id, coalesce(a.text, '') AS text,
               {html_title_sql("r.html")} AS title,
               coalesce(a.n_lines, 0) AS n_lines,
               coalesce(a.n_dropped, 0) AS n_lines_dropped,
               coalesce(a.n_links, 0) AS n_links
        FROM t r LEFT JOIN agg a USING (doc_id) ORDER BY doc_id
    """).fetchdf()
    assert got["text"].tolist() == exp["text"].tolist()
    assert got["title"].tolist() == exp["title"].tolist()
    for c in ("n_lines", "n_lines_dropped", "n_links"):
        assert got[c].tolist() == exp[c].astype(int).tolist(), c


# ---------------------------------------------------------------------------
# decontamination


def test_contamination_overlap_flags_planted_overlap(spark):
    from woe_monotonic_binning_spark.operators.dedup import (
        contamination_overlap,
        decontaminate,
    )

    bench = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # contains the benchmark's first 8-gram verbatim
            (10, "intro words the quick brown fox jumps over the lazy tail words"),
            (11, "completely clean document with none of those grams"),
            # shares 7 consecutive words only -> no 8-gram overlap
            (12, "quick brown fox jumps over the lazy cat sneaks"),
        ],
        "doc_id long, text string",
    )
    flagged = {r.doc_id: r.n_shared for r in contamination_overlap(corpus, bench, n=8).collect()}
    assert 10 in flagged and flagged[10] >= 1
    assert 11 not in flagged and 12 not in flagged
    clean = decontaminate(corpus, bench, n=8)
    assert {r.doc_id for r in clean.select("doc_id").collect()} == {11, 12}
    # corpus columns survive untouched
    assert clean.columns == corpus.columns


def test_contamination_overlap_counts_distinct_shared_grams(spark):
    from woe_monotonic_binning_spark.operators.dedup import contamination_overlap

    bench = spark.createDataFrame(
        [(0, "a b c d e f g h i j")], "doc_id long, text string"
    )
    # shares the two 4-grams "a b c d" and "b c d e" (others differ)
    corpus = spark.createDataFrame(
        [(1, "a b c d e zz yy xx")], "doc_id long, text string"
    )
    out = contamination_overlap(corpus, bench, n=4).collect()
    assert len(out) == 1 and out[0].n_shared == 2


def test_contamination_overlap_benchmark_side_broadcasts(spark):
    """The benchmark gram table must reach the join as a broadcast — a
    shuffled corpus-side join is the 100 TB failure mode."""
    from woe_monotonic_binning_spark.operators.dedup import (
        _contamination_overlap_lazy,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    # the lazy plan keeps the join (contamination_overlap eagerly
    # checkpoints the result, truncating lineage past the join)
    lazy = _contamination_overlap_lazy(docs, bench, "text", "doc_id", 8, 1)
    plan = lazy._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    spark.catalog.clearCache()


def test_decontaminate_semantic_drops_planted_leakage(spark):
    """Embedding-space decontamination: exact benchmark copies and
    above-threshold paraphrase vectors drop; orthogonal and zero-norm
    vectors survive (try_divide -> NULL never crosses the threshold);
    zero-norm BENCHMARK vectors match nothing."""
    from woe_monotonic_binning_spark.operators.dedup import decontaminate_semantic

    bench = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0]), (101, [0.0, 0.0, 0.0])],
        "doc_id long, embedding array<double>",
    )
    corpus = spark.createDataFrame(
        [
            (1, [2.0, 0.0, 0.0]),      # cosine 1.0 to bench 100 -> drop
            (2, [0.9, 0.45, 0.0]),     # cosine ~0.894 -> drop at 0.8
            (3, [0.0, 1.0, 0.0]),      # orthogonal -> keep
            (4, [0.0, 0.0, 0.0]),      # zero norm -> NULL cosine -> keep
            (5, [-1.0, 0.0, 0.0]),     # cosine -1 -> keep
        ],
        "doc_id long, embedding array<double>",
    )
    out = decontaminate_semantic(corpus, bench, threshold=0.8)
    assert {r.doc_id for r in out.select("doc_id").collect()} == {3, 4, 5}
    # corpus columns survive untouched (the norm helper column is dropped)
    assert out.columns == corpus.columns


def test_contamination_report_semantic_counts_per_benchmark(spark):
    """One row per benchmark embedding: distinct corpus rows within the
    threshold counted, clean items report 0 (not dropped), zero-norm
    benchmark rows match nothing."""
    from woe_monotonic_binning_spark.operators.dedup import (
        contamination_report_semantic,
    )

    bench = spark.createDataFrame(
        [
            (100, [1.0, 0.0]),   # leaks: three corpus rows are parallel
            (101, [0.0, 1.0]),   # one parallel corpus row
            (102, [3.0, 4.0]),   # clean
            (103, [0.0, 0.0]),   # zero norm: matches nothing
        ],
        "doc_id long, embedding array<double>",
    )
    corpus = spark.createDataFrame(
        [
            (1, [2.0, 0.0]),
            (2, [5.0, 0.0]),
            (3, [1.0, 0.0]),
            (4, [0.0, 7.0]),
            (5, [-1.0, -1.0]),
        ],
        "doc_id long, embedding array<double>",
    )
    out = {
        r.doc_id: r.n_corpus_docs
        for r in contamination_report_semantic(
            corpus, bench, threshold=0.999
        ).collect()
    }
    assert out == {100: 3, 101: 1, 102: 0, 103: 0}


def test_decontaminate_semantic_is_shuffle_free_broadcast_anti(spark):
    """The benchmark side must broadcast and the corpus must NOT shuffle:
    zero Exchange operators, one LEFT ANTI BroadcastNestedLoopJoin — the
    100 TB contract for an eval-set-sized benchmark."""
    from woe_monotonic_binning_spark.operators.dedup import decontaminate_semantic
    from woe_monotonic_binning_spark.plans.inspect import exchange_count

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    out = decontaminate_semantic(
        emb, emb.filter(F.col("vec_id") % 20 == 0), "embedding", "vec_id", 0.35
    )
    assert exchange_count(out) == 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan and "LeftAnti" in plan


def test_decontaminate_matches_duckdb_oracle(spark):
    """Value-level parity on real corpus data: DuckDB computes the same
    distinct-shared-gram counts via list_intersect on per-doc gram lists."""
    from woe_monotonic_binning_spark.operators.dedup import contamination_overlap

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 25 == 0)
    got = (
        contamination_overlap(docs, bench, n=6, min_shared=1)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    exp = con.execute(
        """
        WITH g AS (
          SELECT doc_id, list_distinct(list_transform(
                   range(1, greatest(len(w), 6) - 6 + 2),
                   i -> array_to_string(w[i:i+5], ' '))) AS grams
          FROM (SELECT doc_id,
                       str_split(regexp_replace(trim(lower(text)), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'), ' ') AS w
                FROM documents)
        ), bg AS (
          SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 25 = 0
        ), ex AS (
          SELECT doc_id, unnest(grams) AS gram FROM g
        ), shared AS (
          SELECT doc_id, count(*) AS n_shared
          FROM ex WHERE gram IN (SELECT gram FROM bg)
          GROUP BY doc_id
        )
        SELECT doc_id, n_shared FROM shared ORDER BY doc_id
        """
    ).fetchdf()
    assert got["doc_id"].tolist() == exp["doc_id"].tolist()
    assert got["n_shared"].tolist() == exp["n_shared"].astype(int).tolist()


# ---------------------------------------------------------------------------
# sequence packing


@pytest.fixture(scope="module")
def token_df(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    pdf = pd.DataFrame(
        {
            "doc_id": range(800),
            "stat_tokens": rng.integers(1, 300, size=800).astype("int64"),
        }
    )
    # a few oversize docs
    pdf.loc[[5, 17, 23], "stat_tokens"] = [700, 901, 5000]
    return spark.createDataFrame(pdf)


def test_pack_sequences_respects_budget_and_covers_all_docs(spark, token_df):
    from woe_monotonic_binning_spark.operators.packing import pack_sequences

    budget = 512
    packed = pack_sequences(token_df, budget=budget, n_shards=8).toPandas()
    assert len(packed) == 800
    assert packed["doc_id"].is_unique
    sums = packed[~packed["oversize"]].groupby("pack_id")["tokens"].sum()
    assert (sums <= budget).all()
    over = packed[packed["oversize"]]
    assert set(over["doc_id"]) == {5, 17, 23}
    # oversize packs are singletons
    assert packed.groupby("pack_id")["doc_id"].count()[over["pack_id"]].max() == 1


def test_pack_sequences_deterministic_under_repartitioning(spark, token_df):
    from woe_monotonic_binning_spark.operators.packing import pack_sequences

    a = (
        pack_sequences(token_df, budget=512, n_shards=8)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    b = (
        pack_sequences(token_df.repartition(13), budget=512, n_shards=8)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


def test_pack_sequences_utilization_beats_floor(spark, token_df):
    """BFD must land well above the trivial 50% next-fit floor; with these
    sizes the realised utilisation is ~95%+.  Also sanity-checks pack_stats
    arithmetic against a direct pandas recomputation."""
    from woe_monotonic_binning_spark.operators.packing import pack_sequences, pack_stats

    budget = 512
    packed_df = pack_sequences(token_df, budget=budget, n_shards=8)
    packed = packed_df.toPandas()
    normal = packed[~packed["oversize"]]
    n_packs_normal = normal["pack_id"].nunique()
    util = normal["tokens"].sum() / (n_packs_normal * budget)
    assert util > 0.8, f"utilization {util:.3f}"
    stats = pack_stats(packed_df, budget).collect()[0]
    assert stats.n_docs == 800
    assert stats.n_oversize == 3
    assert stats.n_packs == packed["pack_id"].nunique()
    assert abs(stats.utilization - round(util, 6)) < 1e-9


def test_pack_shard_stats_distribution(spark, token_df):
    """Per-shard telemetry recomputes from the pack table alone: one row
    per shard, pack/doc/oversize counts summing to the corpus totals, and
    a min <= median <= max utilization distribution matching a direct
    pandas recomputation (round-6 VERDICT item 9 — shard imbalance is the
    thing n_shards tuning needs to see)."""
    from woe_monotonic_binning_spark.operators.packing import (
        _SHARD_STRIDE,
        pack_sequences,
        pack_shard_stats,
        pack_stats,
    )

    budget = 512
    packed_df = pack_sequences(token_df, budget=budget, n_shards=8)
    packed = packed_df.toPandas()
    shard_rows = pack_shard_stats(packed_df, budget).collect()
    assert len(shard_rows) == packed["pack_id"].floordiv(_SHARD_STRIDE).nunique()
    total = pack_stats(packed_df, budget).collect()[0]
    assert sum(r.n_packs for r in shard_rows) == total.n_packs
    assert sum(r.n_docs for r in shard_rows) == total.n_docs
    assert sum(r.n_oversize for r in shard_rows) == total.n_oversize
    packed["shard"] = packed["pack_id"] // _SHARD_STRIDE
    for r in shard_rows:
        sub = packed[(packed["shard"] == r.shard) & (~packed["oversize"])]
        utils = sub.groupby("pack_id")["tokens"].sum() / budget
        assert abs(r.min_utilization - round(utils.min(), 6)) < 1e-9
        assert abs(r.max_utilization - round(utils.max(), 6)) < 1e-9
        assert abs(r.median_utilization - round(utils.median(), 6)) < 1e-6
        assert r.min_utilization <= r.median_utilization <= r.max_utilization


def test_materialize_packs_concatenates_in_id_order(spark):
    """Each pack materializes to one row: members' text sep-joined in
    ascending id order, member ids carried, oversize flag preserved; every
    doc appears in exactly one sequence and no text is lost."""
    from woe_monotonic_binning_spark.operators.packing import (
        materialize_packs,
        pack_sequences,
    )

    docs = spark.createDataFrame(
        [
            (0, "alpha body", 300),
            (1, "beta body", 300),
            (2, "gamma body", 200),
            (3, "delta body", 200),
            (4, "tiny", 12),
            (5, "way too big", 9000),
        ],
        "doc_id long, text string, stat_tokens long",
    )
    packed = pack_sequences(docs, budget=512, n_shards=1)
    out = materialize_packs(docs, packed, sep=" | ").collect()
    by_pack = {r.pack_id: r for r in out}
    packs = {r.doc_id: r.pack_id for r in packed.collect()}
    # single-shard BFD (pinned elsewhere): {0,2,4} / {1,3} / {5 oversize}
    p0 = by_pack[packs[0]]
    assert p0.text == "alpha body | gamma body | tiny"  # id order 0 < 2 < 4
    assert p0.doc_ids == [0, 2, 4] and p0.n_docs == 3 and not p0.oversize
    p1 = by_pack[packs[1]]
    assert p1.text == "beta body | delta body"
    over = by_pack[packs[5]]
    assert over.oversize and over.text == "way too big" and over.n_docs == 1
    # coverage: every doc id appears exactly once across all sequences
    all_ids = sorted(i for r in out for i in r.doc_ids)
    assert all_ids == [0, 1, 2, 3, 4, 5]
    # determinism under repartitioning
    again = materialize_packs(docs.repartition(7), packed, sep=" | ").collect()
    assert {r.pack_id: r.text for r in again} == {r.pack_id: r.text for r in out}


def test_pack_sequences_single_shard_is_global_bfd(spark):
    """n_shards=1 reduces to textbook best-fit-decreasing; a hand-checkable
    instance pins the placement policy (tightest sufficient room, ties to
    the lowest pack id)."""
    from woe_monotonic_binning_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(
        [(0, 300), (1, 300), (2, 200), (3, 200), (4, 12)],
        "doc_id long, stat_tokens long",
    )
    packed = {
        r.doc_id: r.pack_id for r in pack_sequences(df, budget=512, n_shards=1).collect()
    }
    # BFD order: 300(id0)->p0, 300(id1)->p1, 200(id2)->p0 (room 212 vs 212, tie->p0),
    # 200(id3)->p1, 12(id4)->p0 (room 12 exactly)
    assert packed[0] == packed[2] == packed[4]
    assert packed[1] == packed[3]
    assert packed[0] != packed[1]


# ---------------------------------------------------------------------------
# gopher_filter / sample_exact_n / filter_top_fraction


def test_gopher_filter_flags_violations_with_reasons(spark):
    from woe_monotonic_binning_spark.operators.text import gopher_filter

    good = " ".join(f"token{i} value{i} sample{i}" for i in range(20))
    df = spark.createDataFrame(
        [
            (0, good),                              # passes every gate
            (1, "short text only"),                 # < 50 words
            (2, "the " + "### " * 80),              # symbol ratio + mean word len
            (3, " ".join(["dup dup"] * 60)),        # duplicate n-gram fractions
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in gopher_filter(df).collect()}
    assert out[0].keep and out[0].fail_reasons == []
    assert not out[1].keep and "stat_words" in out[1].fail_reasons
    assert not out[2].keep and "sig_symbol_word_ratio" in out[2].fail_reasons
    assert not out[3].keep and any(
        "dup" in r for r in out[3].fail_reasons
    )


def test_gopher_filter_matches_signal_recomputation(spark):
    """keep must equal the conjunction of the per-signal bands recomputed
    from gopher_signals' own (already hash-certified) columns."""
    from woe_monotonic_binning_spark.operators.text import (
        GOPHER_THRESHOLDS,
        gopher_filter,
        gopher_signals,
        word_count,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = gopher_filter(docs).select("doc_id", "keep").toPandas().set_index("doc_id")
    sig = (
        gopher_signals(docs)
        .withColumn("stat_words", word_count(F.col("text")))
        .toPandas()
        .set_index("doc_id")
    )
    for doc_id, row in sig.iterrows():
        expect = all(lo <= row[c] <= hi for c, (lo, hi) in GOPHER_THRESHOLDS.items())
        assert got.loc[doc_id, "keep"] == expect, doc_id


def test_sample_exact_n_grouped_and_nested(spark):
    from woe_monotonic_binning_spark.operators.sampling import sample_exact_n

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    s10 = sample_exact_n(docs, "doc_id", 10, group_col="source")
    counts = {r.source: r.n for r in s10.groupBy("source").agg(F.count("*").alias("n")).collect()}
    group_sizes = {
        r.source: r.n for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    for src, size in group_sizes.items():
        assert counts.get(src, 0) == min(10, size), src
    # nested: n=5 sample is a subset of n=10
    s5 = {r.doc_id for r in sample_exact_n(docs, "doc_id", 5, group_col="source").collect()}
    assert s5 <= {r.doc_id for r in s10.collect()}


def test_sample_exact_n_global_deterministic_and_exact(spark):
    from woe_monotonic_binning_spark.operators.sampling import sample_exact_n

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = sorted(r.doc_id for r in sample_exact_n(docs, "doc_id", 37).select("doc_id").collect())
    b = sorted(
        r.doc_id
        for r in sample_exact_n(docs.repartition(11), "doc_id", 37).select("doc_id").collect()
    )
    assert len(a) == 37 and a == b
    # n >= corpus returns everything
    assert sample_exact_n(docs, "doc_id", 10_000).count() == docs.count()


def test_sample_exact_n_survives_pathological_prefilter(spark):
    """oversample margin too small -> falls back to the full window instead
    of returning fewer than n rows."""
    from woe_monotonic_binning_spark.operators.sampling import sample_exact_n

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = sample_exact_n(docs, "doc_id", 50, oversample=0.001)
    assert out.count() == 50


def test_filter_top_fraction_keeps_best_scores(spark):
    from woe_monotonic_binning_spark.operators.sampling import filter_top_fraction
    from woe_monotonic_binning_spark.operators.text import quality_score

    docs = quality_score(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    )
    kept = filter_top_fraction(docs, "quality", 0.3)
    n, total = kept.count(), docs.count()
    # ties may push the kept fraction above the request, never far below
    assert 0.25 * total <= n
    # every kept score >= every dropped score
    min_kept = kept.agg(F.min("quality")).first()[0]
    dropped = docs.join(kept.select("doc_id"), "doc_id", "left_anti")
    if dropped.count():
        max_dropped = dropped.agg(F.max("quality")).first()[0]
        assert min_kept >= max_dropped


def test_split_column_matches_train_test_split_membership(spark):
    from woe_monotonic_binning_spark.operators.sampling import (
        split_column,
        train_test_split,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    labeled = split_column(docs, "doc_id", test_fraction=0.25, seed=11)
    train, test = train_test_split(docs, "doc_id", test_fraction=0.25, seed=11)
    got_test = {r.doc_id for r in labeled.filter(F.col("split") == "test").collect()}
    got_train = {r.doc_id for r in labeled.filter(F.col("split") == "train").collect()}
    assert got_test == {r.doc_id for r in test.collect()}
    assert got_train == {r.doc_id for r in train.collect()}
    assert len(got_test) + len(got_train) == docs.count()


def test_dedup_against_reference_drops_known_and_within_batch_dups(spark):
    from woe_monotonic_binning_spark.operators.dedup import (
        dedup_against_reference,
        exact_dedup_by_digest,
    )

    corpus = spark.createDataFrame(
        [(0, "existing doc alpha"), (1, "existing doc beta")],
        "doc_id long, text string",
    )
    ref = exact_dedup_by_digest(corpus, "text", "doc_id").select("digest")
    batch = spark.createDataFrame(
        [
            (10, "existing doc alpha"),   # known -> dropped
            (11, "brand new doc"),        # kept
            (12, "brand new doc"),        # within-batch dup -> dropped
            (13, "another new doc"),      # kept
        ],
        "doc_id long, text string",
    )
    kept = {r.doc_id for r in dedup_against_reference(batch, ref).collect()}
    assert kept == {11, 13}
    # schema passes through unchanged (no helper columns leak)
    assert dedup_against_reference(batch, ref).columns == batch.columns


def test_curate_corpus_matches_flagship_composition(spark, tmp_path):
    """The one-call pipeline (scrub=True, jaccard path, flagship params)
    must reproduce q_curation_pipeline's hash-certified output
    row-for-row (including the round-7 PII-scrub stage, given the same
    planted PII), and the single-pass partitionBy(split) write must land
    both split dirs."""
    import queries_catalog as qc
    from woe_monotonic_binning_spark import curate_corpus

    sf = "/root/testdata/sf0.001"
    # the SAME plant the flagship query applies (single source of truth in
    # the catalog — review finding: a hand-copied plant here could drift);
    # blk mirrors the flagship's round-12 bounded blocking key (a pure
    # function of doc_id, so pre-adding it on the input is equivalent to
    # the catalog body deriving it post-dedup)
    from pyspark.sql import functions as F

    docs = qc._plant_pii(spark.read.parquet(f"{sf}/documents.parquet")).withColumn(
        "blk", F.col("doc_id") % 50
    )
    out_path = str(tmp_path / "curated")
    got = curate_corpus(
        docs,
        scrub=True,
        quality_threshold=0.5,
        near_dup="jaccard",
        near_dup_threshold=0.7,
        block_cols=["lang", "blk"],
        weights=qc._CURATION_WEIGHTS,
        test_fraction=0.25,
        seed=0,
        split_seed=11,
        output_path=out_path,
    ).select("doc_id", "lang", "source", "quality", "component", "split")
    exp = qc.SPARK_QUERIES["q_curation_pipeline"](spark, sf)
    g = sorted(map(tuple, got.collect()))
    e = sorted(map(tuple, exp.collect()))
    assert g == e and len(g) > 0
    written = spark.read.parquet(out_path)
    assert sorted(map(tuple, written.select(*got.columns).collect())) == g
    import os
    assert {d for d in os.listdir(out_path) if d.startswith("split=")} == {
        "split=train",
        "split=test",
    }


def test_curate_corpus_survivor_cache_lifecycle(spark, tmp_path):
    """cache_survivors: the write path (output_path) releases the cache
    before returning — SQL cache empty, no leak; the lazy path keeps it
    for the returned DataFrame (caller-owned, documented); and
    cache_survivors=False never caches.  Results identical in all
    modes."""
    from woe_monotonic_binning_spark import curate_corpus

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty()

    out_path = str(tmp_path / "c")
    written = curate_corpus(
        docs, near_dup="minhash", output_path=out_path
    )
    assert cm.isEmpty(), "write path must release the survivor cache"
    base = sorted(map(tuple, written.select("doc_id", "split").collect()))

    lazy = curate_corpus(docs, near_dup="minhash")
    assert not cm.isEmpty()  # caller-owned cache backs the lazy result
    assert sorted(map(tuple, lazy.select("doc_id", "split").collect())) == base
    spark.catalog.clearCache()

    plain = curate_corpus(docs, near_dup="minhash", cache_survivors=False)
    assert cm.isEmpty()
    assert sorted(map(tuple, plain.select("doc_id", "split").collect())) == base


def test_curate_corpus_minhash_and_skip_paths(spark):
    from woe_monotonic_binning_spark import curate_corpus

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    mh = curate_corpus(docs, near_dup="minhash", near_dup_threshold=0.7)
    assert {"quality", "component", "split"} <= set(mh.columns)
    assert mh.count() > 0
    skip = curate_corpus(docs, near_dup=None)
    # no near-dup: every survivor is its own component
    assert skip.filter(F.col("component") != F.col("doc_id")).count() == 0
    import pytest
    with pytest.raises(ValueError):
        curate_corpus(docs, near_dup="bogus")


def test_curate_corpus_html_front_stage(spark):
    """html_col= runs extract_html_text before every other stage: the
    survivors' text is the extracted prose (markup and the all-links nav
    line gone), the raw HTML column and diagnostic counts are dropped,
    and the quality gate scores the EXTRACTED text."""
    from woe_monotonic_binning_spark import curate_corpus
    from woe_monotonic_binning_spark.operators.text import extract_html_text

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .withColumn(
            "html",
            F.concat(
                F.lit("<html><body><h1>T</h1><p>"), F.col("text"),
                F.lit('</p><div><a href="/a">Home</a> <a href="/b">About</a>'
                      "</div></body></html>"),
            ),
        )
        .drop("text")
    )
    out = curate_corpus(docs, html_col="html", near_dup=None)
    assert "html" not in out.columns
    assert not {"n_lines", "n_lines_dropped", "n_links"} & set(out.columns)
    rows = out.select("doc_id", "text").collect()
    assert rows
    for r in rows:
        assert "<" not in r.text.split("\n", 1)[0]  # markup gone
        assert "Home About" not in r.text  # nav line gated
    # the extracted text equals the standalone operator's output
    exp = {
        r.doc_id: r.text
        for r in extract_html_text(docs).select("doc_id", "text").collect()
    }
    for r in rows:
        assert r.text == exp[r.doc_id]


def test_corpus_profile_matches_duckdb(spark):
    from woe_monotonic_binning_spark.operators.text import corpus_profile

    sf = "/root/testdata/sf0.001"
    got = (
        corpus_profile(spark.read.parquet(f"{sf}/documents.parquet"))
        .toPandas()
        .sort_values("source")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    exp = con.execute(
        """
        WITH d AS (
          SELECT source,
                 len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0b\\f\\r]')) AS toks,
                 length(text) AS chars,
                 substr(md5(regexp_replace(trim(lower(text)), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')), 1, 16) AS fp
          FROM documents
        )
        SELECT source, count(*) AS n_docs, sum(toks) AS total_tokens,
               round(avg(toks), 6) AS avg_tokens, round(avg(chars), 6) AS avg_chars,
               count(DISTINCT fp) AS n_distinct,
               round(count(*) / CAST(count(DISTINCT fp) AS DOUBLE), 6) AS dup_ratio
        FROM d GROUP BY source ORDER BY source
        """
    ).fetchdf()
    for c in ["n_docs", "total_tokens", "n_distinct"]:
        assert got[c].astype(int).tolist() == exp[c].astype(int).tolist(), c
    for c in ["avg_tokens", "avg_chars", "dup_ratio"]:
        assert got[c].astype(float).round(5).tolist() == exp[c].astype(float).round(5).tolist(), c


def test_corpus_profile_counts_planted_dups(spark):
    from woe_monotonic_binning_spark.operators.text import corpus_profile

    df = spark.createDataFrame(
        [(0, "same text here", "a"), (1, "same text here", "a"), (2, "other", "a")],
        "doc_id long, text string, source string",
    )
    row = corpus_profile(df).collect()[0]
    assert row.n_docs == 3 and row.n_distinct == 2
    assert abs(row.dup_ratio - 1.5) < 1e-9


def test_curate_corpus_token_budget_stage(spark):
    """token_budgets caps named sources' token mass after mixing; unnamed
    sources and all other columns pass through; __toks never leaks."""
    from woe_monotonic_binning_spark import curate_corpus
    from woe_monotonic_binning_spark.operators.text import token_count_bpe

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = curate_corpus(docs, near_dup=None, quality_threshold=0.0)
    src = base.select("source").distinct().limit(1).first()[0]
    total = (
        base.filter(F.col("source") == src)
        .withColumn("t", token_count_bpe(F.col("text")))
        .agg(F.sum("t"))
        .first()[0]
    )
    budget = max(1, total // 2)
    capped = curate_corpus(
        docs, near_dup=None, quality_threshold=0.0, token_budgets={src: budget}
    )
    assert "__toks" not in capped.columns
    got = (
        capped.filter(F.col("source") == src)
        .withColumn("t", token_count_bpe(F.col("text")))
        .agg(F.sum("t"))
        .first()[0]
    )
    assert budget <= got < total
    # unnamed sources untouched
    other = base.filter(F.col("source") != src).count()
    assert capped.filter(F.col("source") != src).count() == other


def test_curate_corpus_decontam_stage(spark):
    """benchmark docs and their 8-gram sharers are gone from the output,
    and the stage runs before dedup (a planted exact dup of a benchmark
    doc cannot survive as a cluster representative)."""
    from woe_monotonic_binning_spark import curate_corpus

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 25 == 0)
    out = curate_corpus(
        docs, near_dup=None, quality_threshold=0.0, benchmark=bench
    )
    ids = {r.doc_id for r in out.select("doc_id").collect()}
    bench_ids = {r.doc_id for r in bench.select("doc_id").collect()}
    assert ids and not (ids & bench_ids)
    # matches the operator applied directly
    from woe_monotonic_binning_spark.operators.dedup import decontaminate

    expected = {
        r.doc_id for r in decontaminate(docs, bench, n=8).select("doc_id").collect()
    }
    assert ids <= expected


def test_curate_corpus_semantic_decontam_stage(spark):
    """benchmark_emb drops corpus rows whose embedding near-matches an
    eval embedding before dedup/quality run; a corpus without the
    embedding column fails loudly."""
    import pytest

    from woe_monotonic_binning_spark import curate_corpus

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("doc_id") < 50)
        .withColumn(
            "embedding",
            F.array(
                (F.col("doc_id") % 7).cast("double"),
                F.lit(1.0),
                (F.col("doc_id") % 3).cast("double"),
            ),
        )
    )
    bench_emb = docs.filter(F.col("doc_id") % 10 == 0).select("embedding")
    out = curate_corpus(
        docs,
        near_dup=None,
        quality_threshold=0.0,
        benchmark_emb=bench_emb,
        benchmark_emb_threshold=0.999999,
    )
    ids = {r.doc_id for r in out.select("doc_id").collect()}
    # every doc whose (doc_id%7, doc_id%3) pair collides with a benchmark
    # doc's is an exact-cosine match and must be gone
    bench_keys = {
        (r.doc_id % 7, r.doc_id % 3)
        for r in docs.filter(F.col("doc_id") % 10 == 0).select("doc_id").collect()
    }
    leaked = {
        r.doc_id
        for r in docs.select("doc_id").collect()
        if (r.doc_id % 7, r.doc_id % 3) in bench_keys
    }
    assert ids and not (ids & leaked)
    with pytest.raises(ValueError, match="embedding column"):
        curate_corpus(
            docs.drop("embedding"),
            near_dup=None,
            quality_threshold=0.0,
            benchmark_emb=bench_emb,
        )


def test_contamination_report_per_benchmark_doc(spark):
    """One row per benchmark doc: leak counts for compromised items, zero
    rows-with-leaks for clean ones, and totals consistent with the
    forward (corpus-side) contamination_overlap view."""
    from woe_monotonic_binning_spark.operators.dedup import (
        contamination_overlap,
        contamination_report,
    )

    bench = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog near the river bank"),
            (1, "completely unique evaluation item nothing in the corpus shares this"),
        ],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # two docs embed bench-0's opening 8-gram run
            (10, "prefix words the quick brown fox jumps over the lazy dog here"),
            (11, "the quick brown fox jumps over the lazy dog near the river bank"),
            (12, "clean corpus document with entirely different content words"),
        ],
        "doc_id long, text string",
    )
    rep = {r.doc_id: r for r in contamination_report(corpus, bench, n=8).collect()}
    assert set(rep) == {0, 1}  # every bench doc reports, leaked or not
    assert rep[0].n_corpus_docs == 2
    assert 0 < rep[0].n_grams_hit <= rep[0].n_grams
    assert rep[0].gram_hit_frac == round(rep[0].n_grams_hit / rep[0].n_grams, 6)
    assert rep[1].n_corpus_docs == 0 and rep[1].n_grams_hit == 0
    # consistency with the forward view: the corpus docs flagged by
    # contamination_overlap are exactly the leak sources counted here
    flagged = {
        r.doc_id for r in contamination_overlap(corpus, bench, n=8).collect()
    }
    assert flagged == {10, 11}


def test_curate_corpus_scrub_stage(spark):
    """scrub=True masks PII in place before hashing (so a masked and an
    unmasked copy of one doc DO dedup afterwards) and leaks no n_* count
    columns."""
    from woe_monotonic_binning_spark import curate_corpus

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox and the lazy dog is of to contact a@b.co", "src0"),
            (2, "the quick brown fox and the lazy dog is of to contact x@y.org", "src0"),
            (3, "the slow green turtle and the happy cat is of to go home now", "src0"),
        ],
        "doc_id long, text string, source string",
    )
    out = curate_corpus(
        docs, scrub=True, near_dup=None, quality_threshold=0.0, test_fraction=0.0
    )
    assert not [c for c in out.columns if c.startswith("n_")]
    rows = {r.doc_id: r.text for r in out.collect()}
    # docs 1 and 2 differ only in their email; after scrubbing they are
    # byte-identical, so exact dedup keeps only the min id
    assert set(rows) == {1, 3}
    assert rows[1].endswith("<EMAIL>")
    # without the scrub both survive
    raw = curate_corpus(
        docs, scrub=False, near_dup=None, quality_threshold=0.0, test_fraction=0.0
    )
    assert {r.doc_id for r in raw.collect()} == {1, 2, 3}


def test_curate_corpus_line_dedup_stage(spark):
    """dedup_lines=True removes repeated intra-doc lines before scoring
    and drops the n_lines_removed helper column."""
    from woe_monotonic_binning_spark import curate_corpus

    line = "the cat and the dog is of to go"
    docs = spark.createDataFrame(
        [(1, f"{line}\n{line}\n{line}", "src0"), (2, "the bird is of to fly and sing", "src0")],
        "doc_id long, text string, source string",
    )
    out = curate_corpus(
        docs, dedup_lines=True, near_dup=None, quality_threshold=0.0, test_fraction=0.0
    )
    assert "n_lines_removed" not in out.columns
    rows = {r.doc_id: r.text for r in out.collect()}
    assert rows[1] == line


def test_curate_corpus_chunk_dedup_stage(spark):
    """dedup_chunks=True cuts cross-document boilerplate segments before
    scoring; the helper count column is dropped."""
    from woe_monotonic_binning_spark import curate_corpus

    boiler = "all rights reserved by the site owner please subscribe today ok"
    docs = spark.createDataFrame(
        [
            (1, f"first unique document body text here {boiler}", "src0"),
            (2, f"second unique document body text here {boiler}", "src0"),
            (3, "third unique document body text here and nothing else", "src0"),
        ],
        "doc_id long, text string, source string",
    )
    out = curate_corpus(
        docs,
        dedup_chunks=True,
        chunk_words=11,
        chunk_min_df=2,
        near_dup=None,
        quality_threshold=0.0,
        test_fraction=0.0,
    )
    assert "n_chunks_removed" not in out.columns
    rows = {r.doc_id: r.text for r in out.collect()}
    for did in (1, 2):
        assert did in rows and boiler not in rows[did]
    assert "third unique" in rows[3]


def test_curate_corpus_gopher_stage(spark):
    """gopher=True drops documents violating the acceptance bands (here a
    too-short doc via the stat_words floor) and leaks no signal columns."""
    from woe_monotonic_binning_spark import curate_corpus

    # 60 distinct words (unique n-grams, mean word length ~6) — inside
    # every acceptance band; doc 2 fails only the stat_words floor
    long_body = " ".join(
        f"alpha{i} bravo{i} charlie{i} delta{i} echo{i}" for i in range(12)
    )
    docs = spark.createDataFrame(
        [(1, long_body, "src0"), (2, "tiny", "src0")],
        "doc_id long, text string, source string",
    )
    out = curate_corpus(
        docs, gopher=True, near_dup=None, quality_threshold=0.0, test_fraction=0.0
    )
    assert not [c for c in out.columns if c.startswith("sig_") or c == "fail_reasons"]
    assert {r.doc_id for r in out.collect()} == {1}
    # custom thresholds flow through
    lax = curate_corpus(
        docs,
        gopher=True,
        gopher_thresholds={"stat_words": (0.0, 1e9)},
        near_dup=None,
        quality_threshold=0.0,
        test_fraction=0.0,
    )
    assert {r.doc_id for r in lax.collect()} == {1, 2}


def test_curation_report_retention_and_eliminated_sources(spark):
    from woe_monotonic_binning_spark.operators.text import curation_report

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # doc_id % 3 varies WITHIN each source (sources are assigned round-robin
    # by id with an even stride, so % 2 would be constant per source)
    after = docs.filter((F.col("source") != "src0") & (F.col("doc_id") % 3 != 0))
    rep = {r.source: r for r in curation_report(docs, after).collect()}
    n_sources = docs.select("source").distinct().count()
    assert len(rep) == n_sources  # eliminated sources still report
    assert rep["src0"].docs_out == 0 and rep["src0"].token_retention == 0.0
    for s, r in rep.items():
        assert 0 <= r.docs_out <= r.docs_in
        assert 0.0 <= r.doc_retention <= 1.0
        if s != "src0":
            assert r.docs_out > 0


def test_remove_repeated_chunks_matches_duckdb_reconstruction(spark):
    """Full value-level DuckDB twin of the boilerplate removal — chunking,
    distinct-doc frequency cut and positional text reconstruction replayed
    as one SQL query (the parity the q_repeated_chunks catalog entry
    claims)."""
    from woe_monotonic_binning_spark.operators.text import remove_repeated_chunks

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    got = (
        remove_repeated_chunks(docs, chunk_words=5, min_df=2)
        .select("doc_id", "n_chunks_removed", F.length("text").alias("new_len"))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    exp = con.execute(
        r"""
        WITH w AS (
          SELECT doc_id,
                 str_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS ws
          FROM documents
        ), c AS (
          SELECT doc_id, i AS pos,
                 array_to_string(ws[i*5+1 : i*5+5], ' ') AS chunk
          FROM w, unnest(range(0, greatest(CAST(ceil(len(ws)/5.0) AS INT), 1))) AS t(i)
        ), freq AS (
          SELECT lower(chunk) AS lc FROM c
          GROUP BY lower(chunk) HAVING count(DISTINCT doc_id) >= 2
        ), kept AS (
          SELECT doc_id, pos, chunk FROM c
          WHERE lower(chunk) NOT IN (SELECT lc FROM freq)
        ), rebuilt AS (
          SELECT doc_id, array_to_string(list(chunk ORDER BY pos), ' ') AS text,
                 count(*) AS n_kept
          FROM kept GROUP BY doc_id
        ), totals AS (
          SELECT doc_id, count(*) AS n_total FROM c GROUP BY doc_id
        )
        SELECT t.doc_id,
               t.n_total - coalesce(r.n_kept, 0) AS n_chunks_removed,
               length(coalesce(r.text, '')) AS new_len
        FROM totals t LEFT JOIN rebuilt r USING (doc_id)
        ORDER BY doc_id
        """
    ).fetchdf()
    assert got["doc_id"].tolist() == exp["doc_id"].tolist()
    assert (
        got["n_chunks_removed"].tolist()
        == exp["n_chunks_removed"].astype(int).tolist()
    )
    assert got["new_len"].tolist() == exp["new_len"].astype(int).tolist()


def test_curate_corpus_simhash_backend_drops_token_identical_variant(spark):
    """near_dup='simhash' (round-7 verdict #3): a copy with identical
    token content but different bytes (case/punctuation edits) survives
    the exact-digest stage yet collapses at hamming 0 in the simhash
    stage; unrelated prose survives."""
    from woe_monotonic_binning_spark import curate_corpus

    rows = [
        (1, "The quick brown fox jumps over the lazy dog near the river bank", "web"),
        (2, "the QUICK brown fox jumps over the lazy dog near the river bank!!", "web"),
        (3, "completely different prose about sailing ships across wide oceans", "web"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = curate_corpus(docs, near_dup="simhash", quality_threshold=0.0)
    kept = {r.doc_id for r in out.collect()}
    assert 3 in kept
    assert len(kept & {1, 2}) == 1  # the token-identical pair collapsed


def test_curate_corpus_semantic_backend_drops_paraphrase_by_embedding(spark):
    """near_dup='semantic': two docs with disjoint wording but
    near-identical embeddings collapse (the paraphrase case no text-level
    hash can catch); a missing embedding column is a loud error."""
    import pytest

    from woe_monotonic_binning_spark import curate_corpus

    rows = [
        (1, "alpha text about one topic entirely", [1.0, 0.0, 0.0], "web"),
        (2, "totally unrelated wording, same meaning", [0.999, 0.032, 0.0], "web"),
        (3, "third document on another subject", [0.0, 1.0, 0.0], "web"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, embedding array<double>, source string"
    )
    out = curate_corpus(
        docs,
        near_dup="semantic",
        quality_threshold=0.0,
        semantic_cells=2,
        semantic_threshold=0.95,
    )
    kept = {r.doc_id for r in out.collect()}
    assert 3 in kept
    assert len(kept & {1, 2}) == 1  # cosine ~0.9995 pair collapsed
    no_vec = docs.drop("embedding")
    with pytest.raises(ValueError, match="embedding"):
        curate_corpus(no_vec, near_dup="semantic")


def test_curate_corpus_semantic_max_block_forwards_and_collapses(spark):
    """semantic_max_block (round 9) forwards to semantic_dedup: a hot
    embedding cluster BIGGER than the cap still collapses to one survivor
    through the anchor star instead of paying the within-cell quadratic."""
    from woe_monotonic_binning_spark import curate_corpus

    k = 9
    rows = [
        (i, f"hot cluster doc number {i} with words", [1.0, 0.5, 0.0], "web")
        for i in range(k)
    ]
    rows.append((100, "a lone unrelated document here", [0.0, 0.0, 1.0], "web"))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, embedding array<double>, source string"
    )
    out = curate_corpus(
        docs,
        near_dup="semantic",
        quality_threshold=0.0,
        semantic_cells=2,
        semantic_threshold=0.999999,
        semantic_max_block=k - 3,
    )
    kept = {r.doc_id for r in out.collect()}
    assert 100 in kept
    assert len(kept & set(range(k))) == 1  # over-cap cluster -> one survivor


def test_curate_corpus_maximal_composition_executes(spark, tmp_path):
    """Round-8 lesson: plan-only pins hide execution blow-ups (the gopher
    filter-predicate hang shipped plan-green for two rounds and only
    surfaced when the composition was finally EXECUTED).  Run the maximal
    pipeline — every hygiene stage, decontamination, near-dup, mixing,
    token budgets, and the partitioned write — end to end on real docs."""
    from woe_monotonic_binning_spark import curate_corpus

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sources = [r.source for r in docs.select("source").distinct().collect()]
    bench_docs = docs.filter(F.col("doc_id") % 97 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    out_path = str(tmp_path / "maximal")
    got = curate_corpus(
        docs,
        scrub=True,
        dedup_lines=True,
        dedup_chunks=True,
        gopher=True,
        quality_threshold=0.2,
        near_dup="minhash",
        near_dup_threshold=0.7,
        weights={s: 1.0 for s in sources},
        test_fraction=0.2,
        token_budgets={sources[0]: 1e9},
        benchmark=bench_docs,
        output_path=out_path,
    )
    n = got.count()
    assert 0 < n <= docs.count()
    written = spark.read.parquet(out_path)
    assert written.count() == n
    splits = {r.split for r in written.select("split").distinct().collect()}
    assert splits <= {"train", "test"} and splits
    # decontamination really ran: every benchmark doc's text is gone
    leaked = written.join(
        bench_docs.select(F.col("text").alias("__bt")),
        written.text == F.col("__bt"),
    ).count()
    assert leaked == 0


def test_curate_corpus_tail_params_are_keyword_only(spark):
    """Round-8 advice: parameters were inserted mid-signature across
    releases, so positional calls past block_cols must fail loudly
    instead of silently mis-binding (a weights dict landing in
    simhash_max_hamming)."""
    import pytest

    from woe_monotonic_binning_spark.pipeline import curate_corpus

    docs = spark.createDataFrame(
        [(1, "a b c", "web")], "doc_id long, text string, source string"
    )
    with pytest.raises(TypeError):
        curate_corpus(
            docs, "text", "doc_id", False, False, False, 10, 2, False, None,
            0.5, "minhash", 0.7, None, 3,
        )


def _chunk_ref(text, chunk_size, overlap, unit):
    r"""Independent pure-Python reference for chunk_documents.  Tokenizes
    on the engine's explicit ASCII class — str.split() would also split
    on Unicode whitespace (NBSP, \u2028, ...) that Java \s does not
    match, making the reference falsely stricter (round-12 review)."""
    import re as _re

    stride = chunk_size - overlap
    if unit == "words":
        units = [t for t in _re.split("[ \t\n\x0b\f\r]+", text) if t]
    elif unit == "tokens":
        units = _re.findall("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0b\f\r]", text)
    elif unit == "sentences":
        collapsed = _re.sub("[ \t\n\x0b\f\r]+", " ", text)
        units = [
            s.strip(" ") for s in _re.findall("[^.!?]+[.!?]*", collapsed)
            if s.strip(" ")
        ]
    else:
        units = list(text)
    n = len(units)
    if n == 0:
        return []
    n_windows = 1 + max(0, -(-(n - chunk_size) // stride)) if n > chunk_size else 1
    out = []
    for i in range(n_windows):
        w = units[i * stride : i * stride + chunk_size]
        joined = "".join(w) if unit == "chars" else " ".join(w)
        out.append((i, joined, len(w)))
    return out


def test_chunk_documents_matches_reference_all_units(spark):
    """chunk_documents vs an independent sliding-window reference on the
    real corpus, all four units: same (doc, idx) keyset, same chunk text,
    same n_units; passthrough columns preserved on every row."""
    from woe_monotonic_binning_spark.operators.text import chunk_documents

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(80)
    rows = {r.doc_id: r for r in docs.collect()}
    for unit, cs, ov in (
        ("words", 20, 5), ("chars", 64, 16), ("tokens", 16, 4), ("sentences", 3, 1)
    ):
        got = chunk_documents(docs, chunk_size=cs, overlap=ov, unit=unit)
        got_map = {
            (r.doc_id, r.chunk_idx): (r.text, r.n_units, r.lang, r.source)
        # noqa: E128 — dict comprehension over collected rows
            for r in got.collect()
        }
        exp_map = {}
        for did, r in rows.items():
            for i, chunk, nu in _chunk_ref(r.text, cs, ov, unit):
                exp_map[(did, i)] = (chunk, nu, r.lang, r.source)
        assert got_map == exp_map and len(exp_map) > len(rows) // 2, unit


def test_chunk_documents_boundaries(spark):
    """Edge semantics pinned: empty / whitespace-only doc -> zero rows;
    doc at exactly chunk_size -> one chunk; one unit over -> two chunks
    with the second carrying overlap + the new unit; exact-stride
    multiple emits no trailing overlap-only window; invalid overlap and
    unit raise."""
    from woe_monotonic_binning_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [
            (0, ""),
            (1, "   "),
            (2, "a b c d"),          # n=4 == chunk_size -> 1 chunk
            (3, "a b c d e"),        # n=5 -> windows [0:4], [2:5]
            (4, "a b c d e f"),      # n=6 = chunk + stride -> exactly 2
            # round-12 review regressions: Spark trim strips SPACES only,
            # so edge \n/\t used to mint phantom empty units (trailing
            # newline = nearly every real document); NULL text used to
            # defeat the zero-window guard via greatest()'s NULL-skip
            (5, "a b c d e\n"),      # trailing newline == doc 3
            (6, "\ta b c d e"),      # leading tab == doc 3
            (7, "\n"),               # whitespace-only -> zero rows
            (8, None),               # NULL text -> zero rows
        ],
        "doc_id long, text string",
    )
    got = chunk_documents(docs, chunk_size=4, overlap=2, unit="words")
    by_doc = {}
    for r in got.collect():
        by_doc.setdefault(r.doc_id, []).append((r.chunk_idx, r.text, r.n_units))
    for d in by_doc.values():
        d.sort()
    assert 0 not in by_doc and 1 not in by_doc
    assert 7 not in by_doc and 8 not in by_doc
    assert by_doc[2] == [(0, "a b c d", 4)]
    assert by_doc[3] == [(0, "a b c d", 4), (1, "c d e", 3)]
    assert by_doc[4] == [(0, "a b c d", 4), (1, "c d e f", 4)]
    assert by_doc[5] == by_doc[3] and by_doc[6] == by_doc[3]
    # NULL text yields zero rows in the chars unit too
    chars = chunk_documents(docs, chunk_size=4, overlap=2, unit="chars")
    assert chars.filter(F.col("doc_id") == 8).count() == 0
    with pytest.raises(ValueError):
        chunk_documents(docs, id_col="nope")
    with pytest.raises(ValueError):
        chunk_documents(docs, chunk_size=4, overlap=4)
    with pytest.raises(ValueError):
        chunk_documents(docs, chunk_size=4, overlap=-1)
    with pytest.raises(ValueError):
        chunk_documents(docs, unit="paragraphs")  # tokens+sentences valid since r13
    # reserved-output collision fails loudly (re-chunking chunked output
    # would otherwise be an ambiguous-reference AnalysisException deep in
    # the plan — round-12 review); a one-call re-window works after a
    # rename/drop
    chunked = chunk_documents(docs, chunk_size=4, overlap=2)
    with pytest.raises(ValueError, match="collide"):
        chunk_documents(chunked, chunk_size=8, overlap=2)
    rewindowed = chunk_documents(
        chunked.drop("chunk_idx", "n_units"), chunk_size=8, overlap=2
    )
    assert rewindowed.count() > 0


def test_chunk_documents_whitespace_class_is_ascii(spark):
    """Java \\s vs RE2 \\s divergence pinned (round-12 review): the
    engine tokenizes on the explicit ASCII class, so vertical tab IS a
    separator (Java semantics, mirrored literally in the oracle twin) and
    Unicode whitespace (NBSP) is NOT (neither engine class matches it);
    the python reference agrees on both."""
    from woe_monotonic_binning_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [(0, "a\x0bb c"), (1, "a\xa0b c")],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.chunk_idx): (r.text, r.n_units)
        for r in chunk_documents(docs, chunk_size=4, overlap=1).collect()
    }
    assert got[(0, 0)] == ("a b c", 3)      # \x0b splits
    assert got[(1, 0)] == ("a\xa0b c", 2)   # NBSP does not
    for did, raw in {0: "a\x0bb c", 1: "a\xa0b c"}.items():
        ref = _chunk_ref(raw, 4, 1, "words")
        assert ref == [
            (i, got[(did, i)][0], got[(did, i)][1]) for i in range(len(ref))
        ]


def test_curate_corpus_window_stage(spark):
    """curate_corpus(window_size=...) chunks the labeled survivors as the
    final stage: output equals chunk_documents applied to the
    no-window run, windows inherit quality/component/split, and the
    stage composes with the rest of the pipeline untouched."""
    from woe_monotonic_binning_spark import curate_corpus
    from woe_monotonic_binning_spark.operators.text import chunk_documents

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = curate_corpus(docs, quality_threshold=0.5, near_dup="minhash")
    windowed = curate_corpus(
        docs, quality_threshold=0.5, near_dup="minhash",
        window_size=20, window_overlap=5,
    )
    exp = chunk_documents(base, chunk_size=20, overlap=5)
    key = lambda r: (r["doc_id"], r["chunk_idx"])
    g = sorted(map(lambda r: r.asDict(), windowed.collect()), key=key)
    e = sorted(map(lambda r: r.asDict(), exp.collect()), key=key)
    assert g == e and len(g) > 0
    assert {"quality", "component", "split", "chunk_idx", "n_units"} <= set(
        windowed.columns
    )
    spark.catalog.clearCache()


def test_chunk_documents_tokens_unit_and_stride_mutant(spark):
    """unit='tokens' (round 13) budgets windows by the BPE-ish pre-tokens
    (symbols and digit runs are their own units, unlike words), matching
    the independent reference exactly — and an off-by-one stride in the
    reference immediately disagrees, guarding the i*stride window
    arithmetic against silent drift."""
    from woe_monotonic_binning_spark.operators.text import chunk_documents

    text = "Don't stop believing, hold on 2 that feeling! " * 3  # 36 tokens
    docs = spark.createDataFrame([(0, text)], "doc_id long, text string")
    got = [
        (r.chunk_idx, r.text, r.n_units)
        for r in chunk_documents(docs, chunk_size=6, overlap=2, unit="tokens")
        .orderBy("chunk_idx")
        .collect()
    ]
    assert got == _chunk_ref(text, 6, 2, "tokens")
    assert got[0][1] == "Don ' t stop believing ,"  # tokens, not words
    assert len(got) == 9 and got[-1][2] == 4  # short final window pinned
    # off-by-one stride mutants (stride 5 and stride 3 vs the true 4)
    # must NOT match — the window keyset itself shifts
    for mutant_overlap in (1, 3):
        assert got != _chunk_ref(text, 6, mutant_overlap, "tokens")


def test_chunk_documents_tokens_vt_and_empty_edges(spark):
    """tokens unit edge pins: VT is a separator (explicit ASCII class in
    _BPE_RE's negated group), NBSP is a symbol TOKEN (neither engine's
    whitespace), empty/NULL text yields zero rows."""
    from woe_monotonic_binning_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [(0, "a\x0bb c"), (1, "a\xa0b c"), (2, ""), (3, None)],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.chunk_idx): (r.text, r.n_units)
        for r in chunk_documents(docs, chunk_size=8, overlap=2, unit="tokens").collect()
    }
    assert got == {
        (0, 0): ("a b c", 3),          # \x0b separates, never a token
        (1, 0): ("a \xa0 b c", 4),     # NBSP is its own symbol token
    }


def test_streaming_chunking_section_is_reentrant(spark):
    """The q_dedup_lines 'window_stream' section (round 13) must be
    re-entrant: two consecutive evaluations of the slot produce the
    identical window_stream rowset (the rmtree of sink+checkpoint resets
    the streaming state each run), and it matches the batch chunker at
    the same parameters exactly — the batch-split-invariance claim."""
    import queries_catalog as qc
    from pyspark.sql import functions as F

    from woe_monotonic_binning_spark.operators.text import chunk_documents

    sf = "/root/testdata/sf0.001"

    def stream_rows():
        df = qc.SPARK_QUERIES["q_dedup_lines"](spark, sf)
        return sorted(
            (r.doc_id, r.chunk_idx, r.chunk_md5, r.n_units)
            for r in df.filter(F.col("section") == "window_stream").collect()
        )

    first = stream_rows()
    second = stream_rows()
    assert first and first == second
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    batch = sorted(
        (r.doc_id, r.chunk_idx, r.md5, r.n_units)
        for r in chunk_documents(docs, chunk_size=24, overlap=6)
        .select("doc_id", "chunk_idx", F.md5("text").alias("md5"), "n_units")
        .collect()
    )
    assert first == batch


def test_chunk_documents_sentences_unit_edges_and_mutant(spark):
    """unit='sentences' (round 13): terminal-punctuation segmentation with
    trim + empty-drop, boundary-respecting windows; stride off-by-one
    mutants disagree with the independent reference; leading bare
    punctuation drops identically on both engines."""
    from woe_monotonic_binning_spark.operators.text import chunk_documents

    text = "One fish. Two fish? Red fish!\nBlue fish... done"
    docs = spark.createDataFrame(
        [(0, text), (1, ""), (2, None), (3, "no punct"), (4, "... lead. ok!")],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.chunk_idx): (r.text, r.n_units)
        for r in chunk_documents(docs, chunk_size=2, overlap=1, unit="sentences").collect()
    }
    assert got == {
        (0, 0): ("One fish. Two fish?", 2),
        (0, 1): ("Two fish? Red fish!", 2),
        (0, 2): ("Red fish! Blue fish...", 2),
        (0, 3): ("Blue fish... done", 2),
        (3, 0): ("no punct", 1),
        (4, 0): ("lead. ok!", 2),  # leading "..." has no body -> dropped
    }
    seq = [
        (i, t, n)
        for (d, i), (t, n) in sorted(got.items()) if d == 0
    ]
    assert seq == _chunk_ref(text, 2, 1, "sentences")
    # off-by-one stride mutant (overlap 0 -> stride 2) must disagree
    assert seq != _chunk_ref(text, 2, 0, "sentences")


def test_curate_corpus_image_dedup_gate(spark):
    """curate_corpus(image_dedup=): docs sharing a perceptually-equal
    image collapse to the min-id doc before the text stages; docs
    without a media row (or with undecodable payloads) pass through."""
    from tests.media_fixtures import synthetic_gradient_ppm_media
    from woe_monotonic_binning_spark.pipeline import curate_corpus

    docs = spark.createDataFrame(
        [(i, "src0", f"unique words document {i} " * 10) for i in range(12)],
        "doc_id long, source string, text string",
    )
    # ids 0..7 carry images in duplicate groups of 4; 8..9 junk payloads;
    # 10..11 have no media row at all
    media = synthetic_gradient_ppm_media(
        spark.range(8).withColumnRenamed("id", "doc_id"), dup_every=4
    ).unionByName(
        spark.createDataFrame(
            [(8, "image", bytearray(b"junk")), (9, "image", None)],
            "media_id long, kind string, content binary",
        ).withColumn(
            "meta",
            F.expr(
                "named_struct('mime', CAST(NULL AS STRING), 'width', "
                "CAST(NULL AS INT), 'height', CAST(NULL AS INT), "
                "'duration_ms', CAST(NULL AS INT))"
            ),
        ).select("media_id", "kind", "content", "meta")
    )
    out = curate_corpus(
        docs,
        near_dup=None,
        quality_threshold=0.0,
        weights=None,
        image_dedup=media,
        cache_survivors=False,
    )
    ids = {r.doc_id for r in out.collect()}
    # groups {0..3} and {4..7} collapse to their min ids
    assert {0, 4} <= ids and not ({1, 2, 3, 5, 6, 7} & ids)
    # undecodable-media and media-less docs all survive
    assert {8, 9, 10, 11} <= ids


def test_curate_corpus_audio_dedup_gate(spark):
    """curate_corpus(audio_dedup=): docs whose audio is a perceptual
    near-dup (incl. a WAV-vs-identical-tone pair) collapse to the min-id
    doc; docs without audio pass through."""
    from tests.media_fixtures import synthetic_tone_wav_media
    from woe_monotonic_binning_spark.pipeline import curate_corpus

    docs = spark.createDataFrame(
        [(i, "src0", f"unique words document {i} " * 10) for i in range(10)],
        "doc_id long, source string, text string",
    )
    media = synthetic_tone_wav_media(
        spark.range(8).withColumnRenamed("id", "doc_id"), dup_every=4
    )
    out = curate_corpus(
        docs,
        near_dup=None,
        quality_threshold=0.0,
        weights=None,
        audio_dedup=media,
        cache_survivors=False,
    )
    ids = {r.doc_id for r in out.collect()}
    assert {0, 4} <= ids and not ({1, 2, 3, 5, 6, 7} & ids)
    assert {8, 9} <= ids  # no media row -> untouched


def test_curate_corpus_full_round17_recipe(spark):
    """Integration: every round-17 gate composed with the standing
    stages — URL gate -> trained language gate -> perplexity gate ->
    trained quality gate -> exact + near dedup -> budget -> split.
    Each planted row violates exactly one gate, so the survivor set
    pins the whole chain's order and NULL posture."""
    from woe_monotonic_binning_spark.langid import train_language_id
    from woe_monotonic_binning_spark.perplexity import train_ngram_lm
    from woe_monotonic_binning_spark.pipeline import curate_corpus

    base_en = (
        "the quick brown fox jumps over the lazy dog near the river "
        "bank and the old tree"
    )
    trusted = spark.createDataFrame(
        [(0, base_en),
         (1, "the lazy dog sleeps under the old oak tree by the river"),
         (2, "a quick fox and a brown dog play near the green hill")],
        "doc_id long, text string",
    )
    lm = train_ngram_lm(trusted, min_count=1)
    lang_fixture = spark.createDataFrame(
        [(0, "en", base_en),
         (1, "en", "the old tree stands over the green hill by the bank"),
         (2, "de", "der schnelle braune fuchs springt über den faulen hund"),
         (3, "de", "der alte baum steht über dem grünen hügel am fluss")],
        "doc_id long, lang string, text string",
    )
    lid = train_language_id(lang_fixture, buckets=1024)

    rows = [
        # survivors: fluent english on allowed domains
        (0, base_en + " zero", "https://good.com/a", "src0"),
        (1, "the quick fox runs over the green hill near the old tree "
            "and the river bank", "https://good.com/b", "src0"),
        # blocklisted domain
        (2, base_en + " two", "https://spam.com/x", "src0"),
        # german -> language gate
        (3, "der schnelle braune fuchs springt über den faulen hund am "
            "fluss und der alte baum", "https://good.com/c", "src0"),
        # gibberish -> perplexity gate
        (4, "zxq wvut qqq lkjh zzz mmmnb vvv rrr ttt yyy hhh www",
         "https://good.com/d", "src0"),
        # exact duplicate of 0 -> exact dedup keeps one
        (0x10, base_en + " zero", "https://good.com/e", "src0"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, url string, source string"
    )
    out = curate_corpus(
        docs,
        url_col="url",
        url_blocklist=["spam.com"],
        lang_model=lid,
        lang_keep=["en"],
        perplexity_model=lm,
        perplexity_threshold=2000.0,
        quality_threshold=0.0,
        near_dup=None,
        cache_survivors=False,
    )
    got = sorted(r.doc_id for r in out.collect())
    # 0 vs 0x10 are exact duplicates: exactly one survives; 1 survives;
    # 2 (domain), 3 (language), 4 (perplexity) drop
    assert 1 in got and len(got) == 2
    assert (set(got) - {1}).issubset({0, 0x10})
    assert 2 not in got and 3 not in got and 4 not in got
    # survivor schema stays stable: no diagnostic columns leak
    for c in out.columns:
        assert not c.startswith(("__", "ppl", "lang_score")), c
