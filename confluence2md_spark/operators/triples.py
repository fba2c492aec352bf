"""Triple extraction H1-H4 (SURVEY.md §2.H) — all JVM-side.

Every extractor is regexp_extract_all / arrays_zip / explode over the
`pages` table: whole-stage codegen end-to-end, no Python. The patterns live
in ``core.triples``.

Edge vocabulary (BASELINE.json north_star):
  (page, links_to, page)            markdown links from F1/G8 output
  (page, has_attachment, file)      non-HTML MIME parts + /download/attachments/ URLs
  (page, authored_by, user)         confluence-userlink mentions
  (page, contains_heading, section) ATX headings in final markdown
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core.triples import (
    ATTACHMENT_URL_PATTERN,
    HEADING_PATTERN,
    PAGE_URL_PATTERN,
)

# Java-dialect link pattern: images excluded via lookbehind.
MD_LINK_PATTERN_J = r"(?<!\!)\[([^\]]*)\]\(([^)]+)\)"

TRIPLE_COLS = ["subj", "pred", "obj", "subj_type", "obj_type", "doc_id", "repo", "confidence"]


def normalize_target_col(url: Column) -> Column:
    """Canonical node id for a link target: Confluence page URLs ->
    ``page:{id}``, attachment URLs -> ``file:{name}``, anchors ->
    ``section:{anchor}``, anything else -> ``url:`` + the URL without its
    fragment."""
    return (
        F.when(
            url.rlike(PAGE_URL_PATTERN),
            F.concat(F.lit("page:"), F.regexp_extract(url, PAGE_URL_PATTERN, 2)),
        )
        .when(
            url.rlike(ATTACHMENT_URL_PATTERN),
            F.concat(F.lit("file:"), F.regexp_extract(url, ATTACHMENT_URL_PATTERN, 2)),
        )
        .when(url.startswith("#"), F.concat(F.lit("section:"), F.substring(url, 2, 2_000_000)))
        .otherwise(F.concat(F.lit("url:"), F.split(url, "#", 2).getItem(0)))
    )


def extract_link_triples(pages: DataFrame) -> DataFrame:
    """H1 links_to + URL-sourced has_attachment (H2b) from markdown links."""
    links = pages.select(
        "doc_id",
        "repo",
        F.explode(
            F.arrays_zip(
                F.regexp_extract_all("markdown", F.lit(MD_LINK_PATTERN_J), 1).alias("text"),
                F.regexp_extract_all("markdown", F.lit(MD_LINK_PATTERN_J), 2).alias("url"),
            )
        ).alias("lnk"),
    ).select(
        "doc_id", "repo", F.col("lnk.text").alias("anchor_text"), F.col("lnk.url").alias("url")
    )
    obj = normalize_target_col(F.col("url"))
    return links.select(
        F.concat(F.lit("page:"), F.col("doc_id").cast("string")).alias("subj"),
        F.when(obj.startswith("file:"), F.lit("has_attachment"))
        .otherwise(F.lit("links_to"))
        .alias("pred"),
        obj.alias("obj"),
        F.lit("page").alias("subj_type"),
        F.when(obj.startswith("file:"), F.lit("file"))
        .when(obj.startswith("page:"), F.lit("page"))
        .when(obj.startswith("section:"), F.lit("section"))
        .otherwise(F.lit("url"))
        .alias("obj_type"),
        "doc_id",
        "repo",
        F.lit(1.0).alias("confidence"),
    )


def extract_heading_triples(pages: DataFrame) -> DataFrame:
    """H4 contains_heading with section order + level (J14 posexplode)."""
    h = pages.select(
        "doc_id",
        "repo",
        F.posexplode(
            F.arrays_zip(
                F.regexp_extract_all("markdown", F.lit(HEADING_PATTERN), 1).alias("hashes"),
                F.regexp_extract_all("markdown", F.lit(HEADING_PATTERN), 2).alias("text"),
            )
        ).alias("pos", "hd"),
    )
    return h.select(
        F.concat(F.lit("page:"), F.col("doc_id").cast("string")).alias("subj"),
        F.lit("contains_heading").alias("pred"),
        F.concat(F.lit("section:"), F.trim(F.col("hd.text"))).alias("obj"),
        F.lit("page").alias("subj_type"),
        F.lit("section").alias("obj_type"),
        "doc_id",
        "repo",
        F.lit(1.0).alias("confidence"),
        F.length(F.col("hd.hashes")).alias("level"),
        F.col("pos").alias("section_order"),
    )


def extract_author_triples(pages: DataFrame) -> DataFrame:
    """H3 authored_by from pre-captured userlink mentions."""
    return pages.select("doc_id", "repo", F.explode("authors").alias("a")).select(
        F.concat(F.lit("page:"), F.col("doc_id").cast("string")).alias("subj"),
        F.lit("authored_by").alias("pred"),
        F.concat(F.lit("user:"), F.col("a.username")).alias("obj"),
        F.lit("page").alias("subj_type"),
        F.lit("user").alias("obj_type"),
        "doc_id",
        "repo",
        F.lit(1.0).alias("confidence"),
    )


def extract_mime_attachment_triples(pages: DataFrame) -> DataFrame:
    """H2a has_attachment from non-HTML MIME parts (payloads already reduced
    to sha256 inside the convert UDF — no binary crosses this shuffle)."""
    return pages.select("doc_id", "repo", F.explode("attachments").alias("att")).select(
        F.concat(F.lit("page:"), F.col("doc_id").cast("string")).alias("subj"),
        F.lit("has_attachment").alias("pred"),
        F.concat(F.lit("file:"), F.col("att.filename")).alias("obj"),
        F.lit("page").alias("subj_type"),
        F.lit("file").alias("obj_type"),
        "doc_id",
        "repo",
        F.lit(1.0).alias("confidence"),
    )


def extract_all_triples(pages: DataFrame, dedup: bool = False) -> DataFrame:
    """H1 ∪ H2 ∪ H3 ∪ H4 — raw triple emissions.

    `dedup=False` by default: canonicalization (operators/canon.py) ends in
    a groupBy over (subj,pred,obj) anyway, so a pre-dedup here would shuffle
    the full triple stream twice for nothing — at 10^12-file scale that
    second shuffle is the difference between one pass and two. Pass
    dedup=True when triples_raw is consumed WITHOUT canonicalization and
    exact I5 semantics (distinct (s,p,o,doc) keeping max confidence) matter.
    """
    ok = pages.filter(F.col("status") == "ok")
    t = (
        extract_link_triples(ok)
        .unionByName(extract_heading_triples(ok).select(*TRIPLE_COLS))
        .unionByName(extract_author_triples(ok))
        .unionByName(extract_mime_attachment_triples(ok))
    )
    if dedup:
        return t.groupBy(
            "subj", "pred", "obj", "subj_type", "obj_type", "doc_id", "repo"
        ).agg(F.max("confidence").alias("confidence"))
    return t
