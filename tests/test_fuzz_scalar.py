"""Differential fuzz of the scalar function layer vs DuckDB (VERDICT
r3 item #6): the driver's oracle gate only exercises generator-shaped
sf-table data; this test replays every scalar function against its SQL
twin on a SEEDED adversarial corpus — unicode (CJK, fullwidth, astral
emoji), control characters, empty/whitespace-only strings, NULLs,
colon/URL/extension edge shapes, and a >5000-char string — so an
engine-semantics divergence (Java regex vs RE2, case folding, split
semantics, NULL propagation) can't hide behind friendly data.

Everything is computed in ONE Spark pass and ONE DuckDB query and
compared cell-by-cell keyed by row id. Floats compare at 1e-9 (same
operands, same IEEE ops — differences mean real divergence, not
rounding noise).

Known engine caveats baked into the corpus on purpose:
- trailing-newline inputs: Java's `$` matches before a final newline,
  RE2's does not — the extension extractors use `\\z`-style anchoring
  semantics via corpus coverage (a divergence here fails this test);
- `\\w`/`\\s` are ASCII-only in BOTH Java regex and RE2, so the
  sanitizer twins agree on unicode by construction.
"""

from __future__ import annotations

import random

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from webscrape_neko_jirushi_spark.functions import text as ftext
from webscrape_neko_jirushi_spark.functions import urls as furls
from webscrape_neko_jirushi_spark.text import (
    analysis,
    encoding,
    extraction,
    scrubbing,
)

SEED = 20260817

_FRAGMENTS = [
    "cat", "Foster", "neko", "猫", "ねこちゃん", "カタカナ", "😀🐈",
    "the and of to in", "hello, world!", "aaaaaaaaaa", "?!;:",
    "tab\there", "new\nline", "carriage\rreturn", "  spaced  ",
    "under_score", "-dash-", "image.JPG", "photo.png", "clip.webp",
    "/foster/12345/", "/foster/0/", "/foster/abc/",
    "http://Example.com:80/a?b=2&a=1#frag", "HTTPS://x.y/CAT.PNG",
    "banner_ad", "logo-icon", "placeholder", "kitten!",
    ":", "::", "key: value", "a:b:c", "Key :  Spaced Value ",
    "50% off!", "…ellipsis…", "ÀÉÎÕÜ", "ｱｲｳｴｵ", "①②③",
    "image/jpeg; charset=utf-8", "IMAGE/PNG", "application/octet-stream",
    "text/html", "image/webp", "image/gif",
]

_DIRECTED = [
    None, "", " ", "\t", "\n", "\r\n", "   \t  ",
    ":", "a:", ":b", "a::b", "no colon here",
    "photo.png\n",            # trailing newline vs $-anchoring
    "photo.png ",             # trailing space
    ".hidden", "no_extension.", "double..png", "x.PnG",
    "/foster/99999999/", "foster/123/", "/foster/123",
    "だけ日本語のテキストです。これは長めの文章で、非ASCII比率が高い。",
    "mixed 日本語 and english words here",
    "the the the the the the the the the the",   # stopword-heavy
    "x" * 6000,                                  # too_long boundary
    "word " * 100,                               # mean word length 4.0
    ". . . . . . . . . .",                       # punct-heavy
    "CAT", "cAt in the hat", "concatenate",      # interest predicate
    # PII-shaped edges for the scrubbing pair (Java regex vs RE2 on
    # \\b word boundaries, greedy classes, unicode adjacency)
    "mail a@b.c and a@b.io", "猫@例.com", "user@example.com。日本語",
    "+81 3-1234-5678", "+81 3-1234-5678\n", "call +1 555 123 4567 now",
    "1.2.3.4", "1.2.3.4.5", "999.999.999.999", "x1.2.3.4y",
    "ip 10.0.0.1, mail x.y+z@a-b.de, tel +44 20-7946-0958 mixed 日本語",
    "no pii at all +", "version +1.2", "a+b@c.org",
    # encoding-corruption edges for the X43 counters/repair (literal
    # replace chain, C0 class, U+FFFD; partial/overlapping sequences)
    "cafÃ© rÃ©sumÃ© naÃ¯ve",         # naÃ¯ is NOT in the table
    "itâ€™s â€œquoted â€“ â€” â€¦", "Â Â« Â» Â° mixed",
    "lone Ã at end Ã", "â€ without the third byte",
    # NOTE: \x0b (VT) is deliberately ABSENT from the corpus: Java
    # regex counts VT in \s, RE2 does not — a true engine divergence
    # for the \s-based twins (tokens/sanitize/fingerprint/quality).
    # The pipeline contract is that fix_encoding strips C0 controls
    # BEFORE tokenization (X43), so \s never meets a VT; the explicit
    # [\x0b] class in ctrl_count agrees on both engines and is fuzzed.
    "bad\x01ctrl\x08mix\x1fhere", "tab\tand\nnewline stay",
    "repl � char � twice", "ÃŸ sharp ÃŸ", "Ã©Ã©Ã©Ã©",
    # markup edges for the X46 extraction twins (lazy dotall blocks,
    # mismatched closes, single-pass entities, bare '<', br variants)
    "<p>unclosed <b>bold", "<script>var x=1;</script>rest kept",
    "<TITLE> Mixed &amp; Case </TITLE><body>t</body>",
    "&amp;lt;x&amp;gt; &amp;amp;", "<!-- gone --><b>bold</b> stays",
    '<a href="/x">l</a><a href=\'single\'>m</a><a HREF="/up">u</a>',
    "text < notatag > more", "<br><BR/>x<br >y",
    "<style>a: b</style>tail", "&nbsp;&quot;&#39;&apos;&gt;&lt;",
    "<div>deep<div>nested</div>inner</div>after",
    "<script>no close runs to end", "<p>日本語の<em>本文</em>です</p>",
]


def _corpus() -> list[str | None]:
    rng = random.Random(SEED)
    rows: list[str | None] = list(_DIRECTED)
    seps = ["", " ", "  ", ":", "\t", "_", "-", ".", "\n"]
    for _ in range(220):
        k = rng.randint(1, 5)
        parts = [rng.choice(_FRAGMENTS) for _ in range(k)]
        rows.append(rng.choice(seps).join(parts))
    return rows


_STOP_SQL = (
    "['the','a','an','and','or','of','to','in','is','it','for','on',"
    "'with','as','at','by','be','this','that','are']"
)

# name -> (spark Column over F.col("s"), DuckDB SQL over column s).
# SQL twins mirror the driver oracle fragments (proven at sf0.01/sf0.1)
# so a fuzz failure indicts the function pair, not the test.
# (A function: building Columns needs an active SparkContext.)
def _scrub_chain_sql() -> str:
    e = "s"
    for _, pattern, token in scrubbing.REDACTIONS:
        e = f"regexp_replace({e}, '{pattern}', '{token}', 'g')"
    return e


def _cases() -> dict[str, tuple]:
    return {
    "sanitize": (
        ftext.sanitize_filename(F.col("s")),
        r"""COALESCE(NULLIF(substr(regexp_replace(regexp_replace(regexp_replace(s,
            '[^\w\s-]', '', 'g'), '[-\s]+', '_', 'g'), '^_+|_+$', '', 'g'),
            1, 50), ''), 'unknown_cat')""",
    ),
    "kv_key": (
        ftext.key_value_map(F.col("s"))[0],
        r"""CASE WHEN strpos(s, ':') > 0
             THEN lower(trim(string_split(s, ':')[1])) END""",
    ),
    "kv_value": (
        ftext.key_value_map(F.col("s"))[1],
        r"""CASE WHEN strpos(s, ':') > 0
             THEN trim(substr(s, strpos(s, ':') + 1)) END""",
    ),
    "suspicious": (
        ftext.suspicious_filename(F.col("s")),
        " OR ".join(f"lower(s) LIKE '%{p}%'" for p in ftext.NON_CAT_PATTERNS),
    ),
    "fclass": (
        ftext.filename_class(F.col("s")),
        "CASE WHEN "
        + " OR ".join(f"lower(s) LIKE '%{p}%'" for p in ftext.CLEANUP_BLOCK_PATTERNS)
        + " THEN 'block' WHEN "
        + " OR ".join(f"lower(s) LIKE '%{p}%'" for p in ftext.CLEANUP_ALLOW_PATTERNS)
        + " THEN 'allow' END",
    ),
    "tokens": (
        analysis.token_count(F.col("s")),
        r"""CASE WHEN trim(s) = '' THEN 0
             ELSE length(regexp_split_to_array(trim(s), '\s+')) END""",
    ),
    "bpe_tokens": (
        analysis.bpe_ish_token_count(F.col("s")),
        r"""list_aggregate(list_transform(regexp_split_to_array(trim(s), '\s+'),
            w -> CAST(ceil(length(regexp_replace(w, '[^\w]', '', 'g')) / 4.0) AS BIGINT)
                 + length(regexp_replace(w, '[\w\s]', '', 'g'))), 'sum')""",
    ),
    "non_ascii": (
        analysis.non_ascii_ratio(F.col("s")),
        r"""CASE WHEN length(s) = 0 THEN 0.0
             ELSE (length(s) - length(regexp_replace(s, '[^\x00-\x7F]', '', 'g')))
                  * 1.0 / length(s) END""",
    ),
    "lang": (
        analysis.lang_id(F.col("s")),
        r"""CASE WHEN CASE WHEN length(s) = 0 THEN 0.0
             ELSE (length(s) - length(regexp_replace(s, '[^\x00-\x7F]', '', 'g')))
                  * 1.0 / length(s) END > 0.3 THEN 'ja' ELSE 'en' END""",
    ),
    "punct": (
        analysis.punct_ratio(F.col("s")),
        r"""CASE WHEN length(s) = 0 THEN 0.0
             ELSE (length(s) - length(regexp_replace(s, '[.,!?;:]', '', 'g')))
                  * 1.0 / length(s) END""",
    ),
    "stopwords": (
        analysis.stopword_ratio(F.col("s")),
        r"""CASE WHEN length(regexp_split_to_array(lower(trim(s)), '\s+')) = 0 THEN 0.0
             ELSE length(list_filter(regexp_split_to_array(lower(trim(s)), '\s+'),
                    w -> list_contains(""" + _STOP_SQL + r""", w)))
                  * 1.0 / length(regexp_split_to_array(lower(trim(s)), '\s+')) END""",
    ),
    "quality": (
        analysis.quality_score(F.col("s")),
        # outer NULL guard: Spark's indicator sum NULL-propagates
        # (quality of absent text is unknown), while an unguarded
        # CASE-per-indicator SQL form would score NULL text 0
        r"""CASE WHEN s IS NULL THEN NULL ELSE
           (CASE WHEN length(s) BETWEEN 50 AND 5000 THEN 1 ELSE 0 END
          + CASE WHEN (CASE WHEN trim(s) = '' THEN 0
                       ELSE length(regexp_split_to_array(trim(s), '\s+')) END) > 0
                  AND length(s) * 1.0 / (CASE WHEN trim(s) = '' THEN 0
                       ELSE length(regexp_split_to_array(trim(s), '\s+')) END)
                      BETWEEN 2 AND 12 THEN 1 ELSE 0 END
          + CASE WHEN (CASE WHEN length(s) = 0 THEN 0.0
                       ELSE (length(s) - length(regexp_replace(s, '[.,!?;:]', '', 'g')))
                            * 1.0 / length(s) END) < 0.1 THEN 1 ELSE 0 END
          + CASE WHEN (CASE WHEN length(regexp_split_to_array(lower(trim(s)), '\s+')) = 0 THEN 0.0
                       ELSE length(list_filter(regexp_split_to_array(lower(trim(s)), '\s+'),
                              w -> list_contains(""" + _STOP_SQL + r""", w)))
                            * 1.0 / length(regexp_split_to_array(lower(trim(s)), '\s+')) END)
                      BETWEEN 0.05 AND 0.6 THEN 1 ELSE 0 END)
           END""",
    ),
    "moji_count": (
        encoding.mojibake_count(F.col("s")),
        encoding.encoding_counts_sql("s")["n_mojibake"],
    ),
    "repl_count": (
        encoding.replacement_char_count(F.col("s")),
        encoding.encoding_counts_sql("s")["n_replacement"],
    ),
    "ctrl_count": (
        encoding.control_char_count(F.col("s")),
        encoding.encoding_counts_sql("s")["n_control"],
    ),
    "enc_fixed": (
        encoding.fix_encoding(F.col("s")),
        encoding.fix_encoding_sql("s"),
    ),
    "fingerprint": (
        analysis.fingerprint(F.col("s")),
        # NULL guard: DuckDB CONCAT skips NULL args, so an unguarded
        # twin turns NULL text into CAST('0x') -> error, while Spark
        # NULL-propagates to NULL (the driver tables have no NULL text;
        # portable_hash64_sql documents the same caveat)
        r"""CASE WHEN s IS NULL THEN NULL
             ELSE CAST(CONCAT('0x', substr(md5(trim(regexp_replace(lower(s),
                  '\s+', ' ', 'g'))), 1, 15)) AS BIGINT) END""",
    ),
    "interest": (
        furls.url_interest_predicate(F.col("s")),
        r"""(lower(s) LIKE '%cat%' OR lower(s) LIKE '%foster%'
             OR regexp_matches(lower(s), '\.(jpg|jpeg|png|webp)'))""",
    ),
    "cat_id": (
        furls.cat_id_col(F.col("s")),
        r"""CASE WHEN regexp_extract(s, '/foster/(\d+)/', 1) <> ''
             THEN CAST(regexp_extract(s, '/foster/(\d+)/', 1) AS BIGINT) END""",
    ),
    "ct_ext": (
        furls.content_type_to_ext(F.col("s")),
        r"""CASE WHEN lower(COALESCE(s, '')) LIKE '%jpeg%'
                  OR lower(COALESCE(s, '')) LIKE '%jpg%' THEN '.jpg'
             WHEN lower(COALESCE(s, '')) LIKE '%png%' THEN '.png'
             WHEN lower(COALESCE(s, '')) LIKE '%webp%' THEN '.webp'
             WHEN lower(COALESCE(s, '')) LIKE '%gif%' THEN '.gif'
             ELSE '.jpg' END""",
    ),
    "pii_email_n": (
        F.regexp_count(F.col("s"), F.lit(scrubbing.EMAIL_RE)),
        f"len(regexp_extract_all(s, '{scrubbing.EMAIL_RE}'))",
    ),
    "pii_ipv4_n": (
        F.regexp_count(F.col("s"), F.lit(scrubbing.IPV4_RE)),
        f"len(regexp_extract_all(s, '{scrubbing.IPV4_RE}'))",
    ),
    "pii_phone_n": (
        F.regexp_count(F.col("s"), F.lit(scrubbing.PHONE_RE)),
        f"len(regexp_extract_all(s, '{scrubbing.PHONE_RE}'))",
    ),
    "pii_scrub": (
        scrubbing.scrub_text(F.col("s")),
        _scrub_chain_sql(),
    ),
    "html_text": (
        extraction.html_to_text(F.col("s")),
        extraction.html_to_text_sql("s"),
    ),
    "html_title": (
        extraction.extract_title(F.col("s")),
        extraction.extract_title_sql("s"),
    ),
    "html_links_n": (
        F.size(extraction.extract_links(F.col("s"))),
        f"len({extraction.extract_links_sql('s')})",
    ),
    "path_ext": (
        furls.path_to_ext(F.col("s")),
        r"""CASE WHEN lower(regexp_extract(s, '\.([A-Za-z0-9]+)$', 1))
                  IN ('jpg', 'jpeg', 'png', 'gif')
             THEN lower(regexp_extract(s, '\.([A-Za-z0-9]+)$', 1))
             ELSE 'jpg' END""",
    ),
    }


_CASE_NAMES = [
    "sanitize", "kv_key", "kv_value", "suspicious", "fclass", "tokens",
    "bpe_tokens", "non_ascii", "lang", "punct", "stopwords", "quality",
    "fingerprint", "interest", "cat_id", "ct_ext", "path_ext",
    "pii_email_n", "pii_ipv4_n", "pii_phone_n", "pii_scrub",
    "moji_count", "repl_count", "ctrl_count", "enc_fixed",
    "html_text", "html_title", "html_links_n",
]


@pytest.fixture(scope="module")
def results(spark):
    cases = _cases()
    assert sorted(cases) == sorted(_CASE_NAMES)
    rows = _corpus()
    pdf = pd.DataFrame({"i": range(len(rows)), "s": pd.Series(rows, dtype="object")})
    sdf = spark.createDataFrame(pdf).coalesce(4)
    got = (
        sdf.select("i", *[col.alias(name) for name, (col, _) in cases.items()])
        .toPandas()
        .set_index("i")
        .sort_index()
    )
    con = duckdb.connect()
    con.register("t", pdf)
    sql = "SELECT i, " + ", ".join(
        f"({expr}) AS {name}" for name, (_, expr) in cases.items()
    ) + " FROM t ORDER BY i"
    want = con.execute(sql).df().set_index("i").sort_index()
    return rows, got, want


@pytest.mark.parametrize("name", _CASE_NAMES)
def test_scalar_matches_duckdb(results, name):
    rows, got, want = results
    g, w = got[name], want[name]
    bad = []
    for i in g.index:
        a, b = g.loc[i], w.loc[i]
        a = None if pd.isna(a) else a
        b = None if pd.isna(b) else b
        if isinstance(a, float) and isinstance(b, float):
            ok = abs(a - b) <= 1e-9
        else:
            # int64 vs numpy int, bool vs numpy bool: compare by value
            ok = (a is None and b is None) or (
                a is not None and b is not None and a == b
            )
        if not ok:
            bad.append((i, repr(rows[i])[:80], a, b))
    assert not bad, f"{name}: {len(bad)} divergences, first 5: {bad[:5]}"


def test_contains_any_empty_patterns(spark):
    """No patterns match nothing: false for every non-NULL value, NULL
    for NULL — the three-valued answer of a non-empty list that misses."""
    df = spark.createDataFrame([(0, "logo.png"), (1, ""), (2, None)], "i int, s string")
    got = [
        (r["none"], r["miss"])
        for r in df.select(
            "i",
            ftext._contains_any(F.col("s"), []).alias("none"),
            ftext._contains_any(F.col("s"), ["zzz"]).alias("miss"),
        )
        .orderBy("i")
        .collect()
    ]
    assert got == [(False, False), (False, False), (None, None)]
