"""Columnar text-analysis functions for large-scale corpus pipelines.

All JVM-side ``pyspark.sql.functions`` expressions (whole-stage codegen; no
Python in the hot path): token counting, quality scoring, language-ID
heuristic, document fingerprinting, word shingles. These extend the
reference's corpus-processing capabilities (SURVEY.md §2.8) with the
operations a 100 TB training-data pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# deterministic English-ish stopword list used by quality scoring
STOPWORDS = ["the", "a", "of", "and", "to", "in", "with", "after", "during"]

# marker words per pseudo-language for the n-gram/marker heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of"],
    "es": ["el", "la", "de"],
    "de": ["der", "und", "das"],
}


def words(col: str | Column) -> Column:
    """Lowercased whitespace word split (normalization rule F5)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(F.lower(c)), " +")


def token_count(col: str | Column) -> Column:
    """Whitespace token count."""
    return F.size(words(col))


def bpe_ish_token_count(col: str | Column) -> Column:
    """A BPE-ish upper-bound token estimate without running the codec:
    words + one extra token per 6 chars of long words (regex split on
    6-char groups) — the standard cheap proxy for subword counts."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.size(F.split(F.trim(F.lower(c)), " +"))
        + F.size(F.regexp_extract_all(F.lower(c), F.lit("[a-z0-9]{6}"), 0))
    )


def stopword_ratio(col: str | Column) -> Column:
    """Occurrence-count ratio (not distinct-presence) — mirrors the DuckDB
    oracle's list_filter/list_contains formulation exactly."""
    w = words(col)
    return F.size(
        F.filter(w, lambda x: x.isin(*STOPWORDS))
    ) / F.greatest(F.size(w), F.lit(1))


def punct_ratio(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.size(
        F.regexp_extract_all(c, F.lit(r"[^a-zA-Z0-9 ]"), 0)
    ) / F.greatest(F.length(c), F.lit(1))


def quality_score(col: str | Column) -> Column:
    """Composite document-quality score in [0, 1]:
    0.4·len_score + 0.3·stopword presence + 0.3·(1 − punct ratio).
    len_score saturates at 100 words (Gopher-style length heuristic)."""
    len_score = F.least(token_count(col) / F.lit(100.0), F.lit(1.0))
    return (
        F.lit(0.4) * len_score
        + F.lit(0.3) * F.least(stopword_ratio(col) * 10.0, F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - F.least(punct_ratio(col) * 5.0, F.lit(1.0)))
    )


def lang_id(col: str | Column) -> Column:
    """Marker-word language-ID heuristic: argmax language by marker hits,
    'und' (undetermined) when nothing matches. Pure array expressions."""
    w = words(col)
    best_lang, best_cnt = F.lit("und"), F.lit(0)
    for lang, markers in LANG_MARKERS.items():
        cnt = F.size(
            F.filter(w, lambda x: x.isin(*markers))  # noqa: B023
        )
        better = cnt > best_cnt
        best_lang = F.when(better, F.lit(lang)).otherwise(best_lang)
        best_cnt = F.when(better, cnt).otherwise(best_cnt)
    return best_lang


def fingerprint(col: str | Column) -> Column:
    """Document fingerprint: md5 over the sorted distinct word set — the
    canonical bag-of-words near-dup key (order-insensitive, whitespace-
    normalization-insensitive)."""
    return F.md5(F.array_join(F.array_sort(F.array_distinct(words(col))), " "))


def shingles(col: str | Column, n: int = 5) -> Column:
    """Word n-gram shingles as array<string> (space-joined)."""
    w = words(col)
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(w) - n, F.lit(0))),
        lambda i: F.array_join(F.slice(w, i + 1, n), " "),
    )


def shingles_of_array(col: str | Column, n: int = 5) -> Column:
    """Word n-gram shingles over an ALREADY-split word array — callers that
    need window positions pair this with posexplode. Same indexing contract
    as ``shingles``: i = 0..max(len-n, 0) (a shorter-than-n array yields its
    single truncated self; position-sensitive callers guard with
    size >= n)."""
    w = F.col(col) if isinstance(col, str) else col
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(w) - n, F.lit(0))),
        lambda i: F.array_join(F.slice(w, i + 1, n), " "),
    )


def char_shingles(col: str | Column, n: int = 3) -> Column:
    """Character n-gram shingles of the lowercased string — the blocking
    key for entity-NAME similarity (word shingles are useless on single-
    token names). Mirrors the word ``shingles`` indexing: i = 0..len-n
    (a too-short string yields its single truncated self)."""
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.length(c) - n, F.lit(0))),
        lambda i: c.substr(i + F.lit(1), F.lit(n)),
    )


def make_sentence_udtf():
    """Python UDTF (Spark 4 §2.10 surface): split a document into sentence
    rows — (sent_idx, sentence), index = position in the raw regex split,
    empty/whitespace segments dropped AFTER indexing so the index is stable
    under trailing punctuation. Arrow-optimized where available; the
    semantics are deliberately regex-replayable (tests + DuckDB twin q73).
    Lateral-join a UDTF ONLY for genuinely procedural row expansion — a
    plain split+posexplode would do here and stays JVM-side; this exists to
    pin the UDTF surface itself."""
    import re

    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_idx int, sentence string")
    class SplitSentences:
        def eval(self, text: str):
            for i, part in enumerate(re.split(SENTENCE_BOUNDARY_RE, text or "")):
                s = part.strip(" ")
                if s:
                    yield i, s

    return SplitSentences


# sentence boundary: punctuation runs, or the standalone filler word "a" —
# the synthetic corpus carries no punctuation, so the filler word stands in
# as the boundary token (RE2- and python-re-identical, q73's oracle replays it)
SENTENCE_BOUNDARY_RE = r"[.!?]+|\ba\b"


def scrub_text(col: str | Column, rules: list[tuple[str, str]]) -> Column:
    """Sequential regex scrubbing — the PII/noise-masking pass a corpus
    runs before tokenization (digit runs → <num>, emails → <email>, ...).
    Pure JVM regexp_replace chain; rules apply in order. Patterns must stay
    in the RE2-compatible subset so the DuckDB twin replays them exactly."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, repl in rules:
        c = F.regexp_replace(c, pat, repl)
    return c


def keyword_contexts(
    docs: DataFrame,
    terms: "list[str]",
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 3,
) -> DataFrame:
    """Keyword-in-context extraction: for every occurrence of any query
    term, the ±``window``-word snippet around it — the distant-supervision
    context primitive (the reference scores full abstracts; bounded-window
    contexts are the classic alternative its consumers export for
    weak-labeling and retrieval corpora).

    ENTIRELY row-local JVM array math: one transform+filter pass finds the
    hit positions, one slice per hit builds the snippet — zero shuffles,
    zero joins, no per-row Python. Per-doc fan-out is bounded by the term
    occurrence count, so at 10^12 docs this runs at scan speed. Terms are
    inlined as a literal array (a query dimension, broadcast-equivalent).

    Returns (doc_id, idx, term, context): idx is the 0-based word position
    of the hit; context joins words [max(0, idx-w), min(n-1, idx+w)]."""
    # escape backslashes FIRST (Spark's lexer treats \x as C-style
    # escapes inside string literals), then single quotes
    safe = [t.replace("\\", "\\\\").replace("'", "''") for t in terms]
    terms_sql = "array(" + ", ".join(f"'{t}'" for t in safe) + ")"
    w = int(window)
    hits = (
        f"filter(transform(ws, (x, i) -> struct(i as idx, x as term)),"
        f" s -> array_contains({terms_sql}, s.term))"
    )
    ctx = (
        f"transform({hits}, s -> struct("
        f"  s.idx as idx, s.term as term,"
        f"  array_join(slice(ws, greatest(s.idx - {w}, 0) + 1,"
        f"    least(s.idx + {w}, size(ws) - 1) - greatest(s.idx - {w}, 0) + 1"
        f"  ), ' ') as context))"
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"), words(text_col).alias("ws"))
        .select("doc_id", F.explode(F.expr(ctx)).alias("c"))
        .select(
            "doc_id",
            F.col("c.idx").cast("int").alias("idx"),
            F.col("c.term").alias("term"),
            F.col("c.context").alias("context"),
        )
    )


def countmin_heavy_hitters(
    df,
    id_col: str,
    text_col: str,
    width: int = 256,
    depth: int = 4,
    k: int = 20,
):
    """Count-min sketch audit over the corpus word stream (Cormode &
    Muthukrishnan 2005): the sketch is the depth×width cell-count table —
    the fixed-size structure that replaces an unbounded word-count
    aggregate at 10^12 tokens — and the output compares the exact top-k
    words' true counts with their CMS estimates (min over depth rows of
    the word's cells). CMS guarantees est ≥ exact, with overestimate
    ≤ εN (ε = e/width) w.p. 1-δ (δ = e^-depth); emitting both sides
    makes the error bound auditable instead of asserted.

    Scale shape: the token stream expands ×depth into cells and
    aggregates STRAIGHT to the (row, col) table — depth·width rows,
    independent of corpus size (this map-side-combining aggregate is the
    whole point of the sketch). The exact top-k is a second aggregate +
    TakeOrdered (kept here to audit the sketch; a pure production path
    drops it). The tiny sketch broadcasts back to score the k words.
    Hashes are md5 coins on (row, word) — engine-replayable. Returns
    (w, exact, est)."""
    from pyspark.sql import functions as F

    tok = df.select(F.explode(words(text_col)).alias("w"))

    def cell(row):
        return (
            F.conv(
                F.substring(F.md5(F.concat_ws("|", F.lit(row), F.col("w"))), 1, 8),
                16,
                10,
            ).cast("long")
            % width
        )

    cells = tok.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).cast("long").alias("row"), cell(r).alias("col")
                    )
                    for r in range(depth)
                ]
            )
        ).alias("c")
    ).select(F.col("c.row").alias("row"), F.col("c.col").alias("col"))
    sketch = cells.groupBy("row", "col").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    exact = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("exact"))
        .orderBy(F.desc("exact"), F.asc("w"))
        .limit(k)
    )
    probes = exact.select(
        "w",
        "exact",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).cast("long").alias("row"), cell(r).alias("col")
                    )
                    for r in range(depth)
                ]
            )
        ).alias("c"),
    ).select("w", "exact", F.col("c.row").alias("row"), F.col("c.col").alias("col"))
    return (
        probes.join(F.broadcast(sketch), ["row", "col"])
        .groupBy("w", "exact")
        .agg(F.min("cnt").alias("est"))
    )


# mass/volume units normalized to milligrams / milliliters; exact
# integer-or-power-of-ten factors so value*factor is one deterministic
# multiply (shared verbatim with the SQL twin)
QUANTITY_FACTORS_MG = {
    "mcg": 0.001, "ug": 0.001, "mg": 1.0, "g": 1000.0, "kg": 1000000.0,
}
QUANTITY_FACTORS_ML = {"ml": 1.0, "l": 1000.0, "cl": 10.0, "dl": 100.0}


def extract_quantities(
    docs: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> "DataFrame":
    """Quantity-mention normalization — the dosage/measurement extractor
    a biomedical KG runs next to entity detection ("500 mg" and "0.5 g"
    must land on the SAME canonical value or dose-response aggregation
    is garbage): find number+unit mentions, convert mass to mg and
    volume to ml with exact power-of-ten factors, keep the raw surface
    for provenance.

    One regexp_extract_all scan projection (corpus-scale, no join — the
    unit factor map is a CASE expression, smaller than any broadcast),
    one bounded explode (per-doc mention count). Values parse as
    DOUBLE via one cast; canonical = value · factor is a single exact
    multiply. Output: (doc_id, raw, value, unit, kind, canonical),
    canonical rounded 6 dp, one row per mention, ordered."""
    pat = r"(\d+(?:\.\d+)?)\s*(mcg|ug|mg|kg|g|ml|cl|dl|l)\b"
    m = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(pat), F.lit(0))
        ).alias("raw"),
    ).select(
        "doc_id",
        "raw",
        F.regexp_extract("raw", pat, 1).cast("double").alias("value"),
        F.regexp_extract("raw", pat, 2).alias("unit"),
    )
    factor = F.lit(None).cast("double")
    kind = F.lit(None).cast("string")
    for u, f in sorted(QUANTITY_FACTORS_MG.items()):
        factor = F.when(F.col("unit") == u, F.lit(f)).otherwise(factor)
        kind = F.when(F.col("unit") == u, F.lit("mass_mg")).otherwise(kind)
    for u, f in sorted(QUANTITY_FACTORS_ML.items()):
        factor = F.when(F.col("unit") == u, F.lit(f)).otherwise(factor)
        kind = F.when(F.col("unit") == u, F.lit("volume_ml")).otherwise(kind)
    return m.select(
        "doc_id",
        "raw",
        "value",
        "unit",
        kind.alias("kind"),
        F.round(F.col("value") * factor, 6).alias("canonical"),
    ).orderBy("doc_id", "raw")


TRACKING_PARAM_RE = r"^(utm_[^=]*|gclid|fbclid|ref|mc_eid)="


def url_canonical(col: "str | Column") -> Column:
    """Canonical URL form — the key under which a web corpus dedups
    fetches ('HTTPS://Site.com:443/a/?utm_source=x&b=2&a=1#f' and
    'https://site.com/a/?a=1&b=2' are the SAME page): lowercase
    scheme+host, default ports dropped, fragment dropped, tracking
    params (utm_*/gclid/fbclid/ref/mc_eid) removed, remaining query
    params SORTED, empty path normalized to '/'. Pure JVM regexp/array
    expressions — a scan projection at any scale; the twin replays the
    identical rules. Non-URL strings (no scheme) AND empty-authority
    URLs (file:///x — no host to normalize, and rebuilding would erase
    the path) pass through unchanged."""
    c = F.col(col) if isinstance(col, str) else col
    nofrag = F.regexp_replace(c, r"#.*$", "")
    scheme = F.lower(F.regexp_extract(nofrag, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.lower(
        F.regexp_extract(nofrag, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)
    )
    # default-port strip, expressed once per scheme
    hp = F.when(
        (scheme == "http"), F.regexp_replace(hostport, r":80$", "")
    ).when(
        (scheme == "https"), F.regexp_replace(hostport, r":443$", "")
    ).otherwise(hostport)
    path = F.regexp_extract(
        nofrag, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1
    )
    path = F.when(path == "", F.lit("/")).otherwise(path)
    rawq = F.regexp_extract(nofrag, r"\?([^#]*)", 1)
    params = F.array_sort(
        F.filter(
            F.split(rawq, "&"),
            lambda p: (p != "")
            & ~p.rlike(TRACKING_PARAM_RE),
        )
    )
    query = F.array_join(params, "&")
    rebuilt = F.concat(
        scheme,
        F.lit("://"),
        hp,
        path,
        F.when(query != "", F.concat(F.lit("?"), query)).otherwise(F.lit("")),
    )
    # test the STRIPPED authority: 'http://:80/x' has a nonempty raw
    # hostport but no host once the default port drops — pass through
    return F.when((scheme == "") | (hp == ""), c).otherwise(rebuilt)
