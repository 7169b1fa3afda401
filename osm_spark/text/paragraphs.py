"""Global paragraph-level exact dedup (C4-style).

Whole-document dedup misses the dominant duplication mode in web
text: the same paragraph (a license block, a syndicated news intro, a
quote) embedded in thousands of otherwise-distinct pages. C4's fix —
keep only the FIRST global occurrence of every exact paragraph, where
"first" is a deterministic total order — removes the repeats without
dropping the documents.

Semantics (pinned in tests):

- paragraphs are ``\\n``-separated spans, compared exactly (byte
  equality — normalization is the caller's job, e.g. via
  sources/html.py extraction first);
- the winner of a paragraph is the occurrence with the smallest
  (key, position) pair — a pure function of the data, so the output
  is identical across runs, partitionings and cluster sizes;
- duplicate paragraphs WITHIN one document follow the same rule (the
  earliest position wins);
- a document that loses every paragraph still appears in the output
  with empty text (the corpus row count is preserved — downstream
  joins must not lose keys).

Scale shape: one posexplode → one groupBy(paragraph) computing a
map-side-combinable min(struct(key, pos)) — a 10^7-copy boilerplate
paragraph delivers one partial per upstream partition to its reducer,
not 10^7 rows — then an equi-join back on the paragraph and one
groupBy(key) to reassemble in order. Two shuffles total, both
combiner-friendly, no skew amplification.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_paragraphs(
    docs: DataFrame, key: str = "doc_id", text: str = "text"
) -> DataFrame:
    """Returns (key, cleaned_text, n_kept, n_removed) with only each
    paragraph's first global occurrence kept, document order
    preserved."""
    paras = docs.select(
        F.col(key),
        F.posexplode(F.split(F.col(text), "\n")).alias("pos", "para"),
    )
    # The empty paragraph (consecutive/trailing newlines) is document
    # STRUCTURE, not content: deduping it globally would strip blank
    # separators from every document but one corpus-wide winner. It is
    # always kept and never counted as removed.
    winners = (
        paras.where(F.col("para") != "")
        .groupBy("para")
        .agg(F.min(F.struct(key, "pos")).alias("w"))
    )
    tagged = paras.join(winners, "para", "left").withColumn(
        "keep",
        (F.col("para") == "")
        | (
            (F.col("w." + key) == F.col(key))
            & (F.col("w.pos") == F.col("pos"))
        ),
    )
    rebuilt = tagged.groupBy(key).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("keep"), F.struct("pos", "para"))
                    )
                ),
                lambda s: s["para"],
            ),
            "\n",
        ).alias("cleaned_text"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(F.col("keep"), 0).otherwise(1)).alias("n_removed"),
    )
    # left join from the original keys: a doc losing every paragraph
    # still comes out (empty), and a doc with no text at all too.
    return docs.select(key).join(rebuilt, key, "left").select(
        key,
        F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
    )
