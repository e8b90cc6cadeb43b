"""Four-section dictionary build (reference src/four_sect_dict.rs semantics).

Section split is the set-algebra of reference src/nt.rs:245-266 —
shared = subjects ∩ objects, subject-only = S \\ O, object-only = O \\ S —
expressed as semi/anti joins.  Dense 1-based IDs are assigned per section by
global lexicographic (byte) order via ranking.dense_ids (the distributed
zipWithIndex-equivalent), matching reference src/dict_sect_pfc.rs:351-386
(BTreeSet sort) + :116,126 (id = rank + 1).

Global ID routing (reference src/four_sect_dict.rs:98-150): shared terms
keep their section id in both the subject and object ID spaces; overflow
sections add ``n_shared``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from .ranking import dense_ids_grouped
from .session import release


def sections_of(ids: DataFrame) -> dict[str, DataFrame]:
    """The four (term, id) sections filtered from a (section, term, id)
    table, keyed by FourSectDict field name."""
    return {name: ids.filter(F.col("section") == name).select("term", "id")
            for name in ("shared", "subjects", "predicates", "objects")}


@dataclass
class FourSectDict:
    shared: DataFrame      # (term, id)   1..n_shared
    subjects: DataFrame    # (term, id)   1..n_subj   (section-local)
    predicates: DataFrame  # (term, id)   1..n_pred
    objects: DataFrame     # (term, id)   1..n_obj    (section-local)
    n_shared: int
    n_subjects: int
    n_predicates: int
    n_objects: int
    # the stored (section, term, id) table all four sections filter from —
    # kept so KG.unpersist() can release it (r2's documents-build regression
    # was persists accumulating across builds in one JVM)
    ids: DataFrame | None = None
    # persisted upstream intermediates (the ranked-terms input) released
    # together with ids, or by pipeline.materialize once ids is pinned
    deps: tuple[DataFrame, ...] = ()
    # Max raw (pre-dedup) subject degree, computed for free inside the
    # ranking offsets pass: an upper bound on the true max degree, so the
    # adjacency salt decision is an exact deterministic function of the
    # build input instead of a per-run sample probe (one fewer job per
    # build, and reruns/resume get byte-identical plans).
    max_raw_subj_degree: int | None = None

    def unpersist(self) -> None:
        if self.ids is not None:
            release(self.ids)
        for df in self.deps:
            df.unpersist()

    @property
    def subj_global(self) -> DataFrame:
        """(term, id) over the full subject ID space 1..n_shared+n_subj."""
        return self.shared.unionAll(
            self.subjects.select("term", (F.col("id") + self.n_shared).alias("id"))
        )

    @property
    def obj_global(self) -> DataFrame:
        """(term, id) over the full object ID space 1..n_shared+n_obj."""
        return self.shared.unionAll(
            self.objects.select("term", (F.col("id") + self.n_shared).alias("id"))
        )

    def sections_df(self) -> DataFrame:
        """All four sections as (section, term, id) — for tests/export."""
        return (
            self.shared.select(F.lit("shared").alias("section"), "term", "id")
            .unionAll(self.subjects.select(F.lit("subjects").alias("section"), "term", "id"))
            .unionAll(self.predicates.select(F.lit("predicates").alias("section"), "term", "id"))
            .unionAll(self.objects.select(F.lit("objects").alias("section"), "term", "id"))
        )

    DICT_TERMS_PER_FILE = 2_000_000

    def sections_clustered(self, num_files: int | None = None) -> DataFrame:
        """``sections_df`` range-clustered + sorted by (section, term) for
        durable materialization: every parquet file/row group then covers a
        CONTIGUOUS term range, so a dictionary point lookup (str -> id)
        prunes the scan via min/max statistics instead of reading the whole
        table — the Spark analog of the reference's per-block binary search
        (reference src/dict_sect_pfc.rs:87-127).

        The file count is explicit (derived from the known term counts) so
        AQE cannot coalesce the small exchange into one un-prunable file.
        """
        if num_files is None:
            total = (self.n_shared + self.n_subjects + self.n_predicates
                     + self.n_objects)
            num_files = max(1, -(-total // self.DICT_TERMS_PER_FILE))
        return (self.sections_df()
                .repartitionByRange(num_files, "section", "term")
                .sortWithinPartitions("section", "term"))


def build_dict(triples_str: DataFrame, leaf: bool = False) -> FourSectDict:
    """Raw string triples -> four-section dictionary with dense IDs.

    ``leaf``: store the ids table as a lazy ``localCheckpoint`` leaf (the
    in-memory build, pipeline.py) instead of a MEMORY_AND_DISK persist.

    Section classification (shared = S∩O, subject-only = S\\O, object-only =
    O\\S — reference src/nt.rs:245-266) is ONE aggregation pass: explode each
    triple into (term, is_subject) / (term, is_object) markers, groupBy(term)
    with max() flags (map-side partial combine), then a CASE over the flags —
    instead of two distincts + a semi-join + two anti-joins (5 shuffles → 1).
    All four sections are then ranked in a SINGLE grouped two-phase pass
    (one ranged shuffle + one tiny offsets agg), the Spark analog of the
    reference's four parallel section-builder threads (src/nt.rs:240-266).
    Section counts fall out of the offsets aggregation for free.
    """
    flags = (
        triples_str.select(
            F.explode(F.array(
                F.struct(F.col("s").alias("term"), F.lit(1).alias("is_s"),
                         F.lit(0).alias("is_o"), F.lit(0).alias("is_p")),
                F.struct(F.col("o").alias("term"), F.lit(0).alias("is_s"),
                         F.lit(1).alias("is_o"), F.lit(0).alias("is_p")),
                F.struct(F.col("p").alias("term"), F.lit(0).alias("is_s"),
                         F.lit(0).alias("is_o"), F.lit(1).alias("is_p")),
            )).alias("t")
        )
        .select("t.*")
        .groupBy("term")
        # sum(is_s) = the term's raw subject degree — a byproduct of the
        # same map-side-combined pass, consumed by the adjacency salt
        # decision (replaces a per-build sample-probe job)
        .agg(F.max("is_s").alias("is_s"), F.max("is_o").alias("is_o"),
             F.max("is_p").alias("is_p"),
             F.sum("is_s").cast("long").alias("sdeg"))
    )
    # A term can be a predicate AND a subject/object: the reference numbers
    # predicates independently (four_sect_dict.rs:35-44), so emit the term
    # into both its s/o section and the predicates section.
    so_terms = flags.filter((F.col("is_s") == 1) | (F.col("is_o") == 1)).select(
        F.when((F.col("is_s") == 1) & (F.col("is_o") == 1), "shared")
        .when(F.col("is_s") == 1, "subjects")
        .otherwise("objects")
        .alias("section"),
        "term",
        "sdeg",
    )
    p_terms = flags.filter(F.col("is_p") == 1).select(
        F.lit("predicates").alias("section"), "term",
        F.lit(0).cast("long").alias("sdeg"))
    # Ranking reads its input 4x (count, boundary sample, offsets, final
    # pass); persist the distinct-terms table so the term-explode groupBy
    # above runs ONCE, not four times.
    from pyspark import StorageLevel

    labeled = so_terms.unionAll(p_terms).persist(StorageLevel.MEMORY_AND_DISK)

    ids, totals, extras = dense_ids_grouped(
        labeled, "section", "term",
        extra_aggs={"max_sdeg": F.max("sdeg")})
    max_sdeg = max((v for g, v in extras["max_sdeg"].items()
                    if g in ("shared", "subjects") and v is not None),
                   default=0)
    # The dictionary is the hot lookup structure: encode joins it three
    # times and every query filters it, so store the (small) table once.
    # A persist can be recomputed (deterministically: literal range
    # buckets, unlike round 1's nondeterministic rank pass); a leaf cannot,
    # but every plan over it is one node.  Neither takes a count() job of
    # its own: ids fills inside the first consumer's job (the encode
    # joins); AQE runs a leaf's shuffle stages when it is created.  The
    # ranked-terms input cache stays alive until its owner releases it
    # (tracked in ``deps``; round 1's bug was never releasing it at all).
    ids = (ids.localCheckpoint(eager=False) if leaf
           else ids.persist(StorageLevel.MEMORY_AND_DISK))
    return FourSectDict(
        **sections_of(ids),
        n_shared=totals.get("shared", 0),
        n_subjects=totals.get("subjects", 0),
        n_predicates=totals.get("predicates", 0),
        n_objects=totals.get("objects", 0),
        ids=ids,
        deps=(labeled,),
        max_raw_subj_degree=max_sdeg,
    )
