"""Entity-mention detection + span alignment (SURVEY.md §2 D3, J4, J5).

Reference parity: bran consumes PubTator gold mention annotations and aligns
their char offsets to BPE token spans (reference: processing scripts,
reconstructed — SURVEY.md §0; paper §3). The north_star additionally mandates
*detection* ("entity-mention detection, MeSH-ID entity linking via broadcast
dictionary join"), so this module provides both:

- ``detect_mentions``: dictionary-based detection as a pure JVM-side plan —
  posexplode_outer(words) ⋈ broadcast(surface dict). No Python in the hot
  path; scales as a map-side (broadcast hash) join at 10^12 docs because the
  dictionary is the small side.
- ``align_mentions_to_tokens``: the J5 interval join, relational form
  (token.start ∈ [mention.start, mention.end)) — the in-UDF scorer uses the
  same alignment rule via binary search.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def surface_dict(mesh_dict: DataFrame) -> DataFrame:
    """mesh_dict -> (surface, mesh_id, type, canonical_name); one row per
    synonym. Small dimension (|synonyms| ~ 5 per entity) — always broadcast."""
    return mesh_dict.select(
        F.explode("synonyms").alias("surface"),
        "mesh_id",
        "type",
        "canonical_name",
    )


def detect_mentions(docs_with_words: DataFrame, mesh_dict: DataFrame) -> DataFrame:
    """Dictionary NER: match word tokens against entity surface forms.

    Input needs columns ``doc_id`` and ``words array<struct<word,start,end>>``
    (functions.bpe.with_words). Output matches the fixture ``mentions``
    schema: (doc_id, mention_id, type, mesh_id, start, end, text).

    mention_id is deterministic AND unique:
    '<doc_id>#<word position>#<mesh_id>' — stable across reruns/
    partitionings (resume-idempotency gate), and unique even when one
    surface word matches multiple dictionary entries (two mesh ids, or a
    chemical and a disease synonym) — a bare doc#pos key would conflate
    those rows in every downstream per-mention join and distinct count.
    """
    # _outer: for posexplode Spark adds a size(words) > 0 filter that runs a
    # words UDF a second time; a NULL word matches no surface in the join
    words = docs_with_words.select(
        "doc_id", F.posexplode_outer("words").alias("pos", "w")
    ).select(
        "doc_id",
        "pos",
        F.col("w.word").alias("word"),
        F.col("w.start").alias("start"),
        F.col("w.end").alias("end"),
    )
    dim = F.broadcast(surface_dict(mesh_dict))
    return words.join(dim, words.word == dim.surface, "inner").select(
        "doc_id",
        F.concat_ws("#", "doc_id", "pos", "mesh_id").alias("mention_id"),
        "type",
        "mesh_id",
        "start",
        "end",
        F.col("word").alias("text"),
    )


def align_mentions_to_tokens(mentions: DataFrame, docs_with_tokens: DataFrame) -> DataFrame:
    """J5: char-offset mention ↔ BPE token-span containment (relational form).

    Returns mentions + (tok_start, tok_end) — token-ordinal [start, end).
    A sub-token belongs to the mention iff its char start lies inside the
    mention's char range (sub-tokens inherit their word's char range, so word
    containment is exact).
    """
    toks = docs_with_tokens.select(
        "doc_id", F.posexplode("tokens").alias("tpos", "t")
    ).select("doc_id", "tpos", F.col("t.start").alias("t_start"))
    j = mentions.join(toks, "doc_id").where(
        (F.col("t_start") >= F.col("start")) & (F.col("t_start") < F.col("end"))
    )
    return j.groupBy(
        "doc_id", "mention_id", "type", "mesh_id", "start", "end", "text"
    ).agg(
        F.min("tpos").alias("tok_start"),
        (F.max("tpos") + F.lit(1)).alias("tok_end"),
    )


def assertion_status(
    docs: DataFrame,
    dim: DataFrame,
    cues: list[str],
    window: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Negation-cue assertion filter over extracted candidate pairs — the
    biomedical post-filter (NegBio-style, Peng et al. 2018) every CDR-
    class extractor runs before publishing triples: "X does not cause Y"
    co-occurs exactly like "X causes Y", so a (chem, dis) pair whose
    disease mentions ALL sit within ``window`` words after a negation
    cue is flagged un-asserted instead of shipped to the KG.

    ``dim`` = (surface, mesh_id, type) dictionary — always the broadcast
    side. Positions come from one posexplode of the shared word split;
    mention↔cue proximity is an equi-join on doc_id (per-doc position
    lists are bounded by the max-length truncate F4, so the per-doc
    product is bounded). Entity granularity: a disease entity in a doc
    is negated only if EVERY one of its mention positions has a cue in
    [pos − window, pos); pairs inherit the disease's flag. Returns
    (doc_id, chem_mesh, dis_mesh, asserted boolean)."""
    wp = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.lower(F.col(text_col)), " ")).alias(
            "pos", "word"
        ),
    )
    m = wp.join(
        F.broadcast(dim.select("surface", "mesh_id", "type")),
        wp.word == F.col("surface"),
    ).select("doc_id", "pos", "mesh_id", "type")
    cue_pos = wp.where(F.col("word").isin([c.lower() for c in cues])).select(
        "doc_id", F.col("pos").alias("cue_pos")
    )
    dis = m.where(F.col("type") == "Disease").select("doc_id", "pos", "mesh_id")
    negated = (
        dis.join(cue_pos, "doc_id")
        .where(
            (F.col("cue_pos") >= F.col("pos") - window)
            & (F.col("cue_pos") < F.col("pos"))
        )
        .select("doc_id", "pos", "mesh_id")
        .dropDuplicates()
    )
    dis_stats = dis.groupBy("doc_id", "mesh_id").agg(
        F.count(F.lit(1)).alias("n_m")
    )
    neg_stats = negated.groupBy("doc_id", "mesh_id").agg(
        F.count(F.lit(1)).alias("n_neg")
    )
    dis_flag = (
        dis_stats.join(neg_stats, ["doc_id", "mesh_id"], "left")
        .select(
            "doc_id",
            F.col("mesh_id").alias("dis_mesh"),
            (F.coalesce("n_neg", F.lit(0)) < F.col("n_m")).alias("asserted"),
        )
    )
    chem = (
        m.where(F.col("type") == "Chemical")
        .select("doc_id", F.col("mesh_id").alias("chem_mesh"))
        .dropDuplicates()
    )
    return chem.join(dis_flag, "doc_id").select(
        "doc_id", "chem_mesh", "dis_mesh", "asserted"
    )


def ambiguity_profile(
    mentions: DataFrame,
    surface_col: str = "text",
    entity_col: str = "mesh_id",
) -> DataFrame:
    """Surface-form ambiguity audit — the linking-difficulty map: for
    every mention surface, how many distinct entities the corpus links
    it to, how dominant the majority sense is, and the link entropy.
    Surfaces with high entropy are exactly where dictionary linking
    (J4) silently guesses and a context-sensitive disambiguator is
    worth its cost; the audit is also the precision ceiling of a
    most-frequent-sense baseline (Σ majority / Σ mentions).

      H(surface) = ln(n) − Σ_e c_e·ln(c_e) / n     (nats, 6 dp)

    Two aggregates — (surface, entity) counts, then a surface rollup;
    the c·ln(c) terms are one transcendental per distinct small count
    and sum within a surface's few senses, so 6-dp rounding is far
    above any accumulation noise. Output: (surface, n_mentions,
    n_entities, majority_share, entropy), ordered by surface."""
    pc = mentions.groupBy(
        F.col(surface_col).alias("surface"),
        F.col(entity_col).alias("_e"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    g = pc.groupBy("surface").agg(
        F.sum("c").cast("long").alias("n_mentions"),
        F.count(F.lit(1)).cast("long").alias("n_entities"),
        F.max("c").cast("long").alias("_maxc"),
        F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double")))
        .alias("_clnc"),
    )
    n = F.col("n_mentions").cast("double")
    return g.select(
        "surface",
        "n_mentions",
        "n_entities",
        F.round(F.col("_maxc") / n, 6).alias("majority_share"),
        # greatest(…, 0): H ≥ 0 mathematically, but ln(n) − Σc·ln(c)/n
        # computes as a − a ± 1ulp for unambiguous surfaces and a −1e-17
        # residue rounds to −0.0 (which value-hashes differently from 0.0)
        F.round(F.greatest(F.log(n) - F.col("_clnc") / n, F.lit(0.0)), 6)
        .alias("entropy"),
    ).orderBy("surface")
