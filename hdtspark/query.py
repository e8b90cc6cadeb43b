"""Triple-pattern query dispatch (reference src/hdt.rs:266-314).

``triples_with_pattern(kg, s, p, o)`` mirrors the reference's 8-arm
dispatch: constants are looked up in the dictionary first; any unknown
constant short-circuits to an empty result before launching a scan
(reference src/hdt.rs:270-274).  Bound patterns route to the projection
whose sort order makes the filter a pruned scan:

    s bound           -> SPO   (reference SubjectIter, subject_iter.rs)
    o bound (s free)  -> OPS   (reference ObjectIter / PredicateObjectIter
                                 over the OP index, object_iter.rs)
    p bound only      -> PSO   (reference PredicateIter over the wavelet
                                 tree, predicate_iter.rs)
    none bound        -> SPO full scan (reference SubjectIter::new)

Results are translated back to strings by dictionary joins (the set-based
analog of the reference's per-position TripleCache, src/hdt.rs:349-384).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from .dict_builder import FourSectDict
from .session import release


@dataclass
class KG:
    """The materialized knowledge graph: dictionary + sorted projections."""

    dict: FourSectDict
    spo: DataFrame
    ops: DataFrame
    pso: DataFrame
    adj: DataFrame | None = None
    triples_str: DataFrame | None = None
    stats: dict = field(default_factory=dict)
    # persisted build intermediates (the packed pre-exchange encode output)
    # released by pipeline.materialize once spo is stored, else with the
    # KG — see encode.encode_triples(deps_out=...)
    build_deps: tuple = ()
    # lazily-built, persisted string enumeration (see str_enum)
    _str_enum: DataFrame | None = field(default=None, repr=False)

    def str_enum(self) -> DataFrame:
        """The full string-level (s, p, o) enumeration, persisted once.

        Built on first use and cached MEMORY_AND_DISK: every string-level
        query and the NT/Turtle sinks read it, and caching it means the
        up-to-1M-term dictionary broadcasts are paid ONCE per KG instead of
        once per query action (r2: every query re-built 60-80 MB
        HashedRelations, flattening q_* at ~2s regardless of selectivity).
        Cached columnar batches keep min/max stats, so selective filters
        still prune batches like a sorted parquet scan would.
        """
        if self._str_enum is None:
            from pyspark import StorageLevel

            self._str_enum = ids_to_strings(self, self.spo).persist(
                StorageLevel.MEMORY_AND_DISK)
        return self._str_enum

    def unpersist(self, blocking: bool = False) -> None:
        """Release every block this KG owns: the triples_str persist, the
        spo/ops/pso and dictionary ids leaves (``DataFrame.unpersist`` alone
        leaves a localCheckpoint's RDD stored), the build caches and the
        string enumeration.  Builds that construct several KGs in one JVM
        (bench, multi-graph jobs) must call this between builds — r2's
        documents-path build ran 3-9x slower purely from the accumulated
        memory footprint of earlier KGs' never-released caches.  The KG
        cannot be queried afterwards."""
        for df in (self.triples_str, self.spo, self.ops, self.pso,
                   self._str_enum, *self.build_deps):
            if df is not None:
                release(df, blocking)
        self.dict.unpersist()


def _lookup_ids(kg: KG, s: str | None, p: str | None, o: str | None):
    """All bound-constant lookups in ONE Spark job (a union of the three
    dictionary point-filters), mirroring the reference's three
    ``string_to_id`` calls (src/hdt.rs:269) without three scheduler
    round-trips.  Missing constant -> 0 (the reference's sentinel)."""
    parts = []
    if s is not None:
        parts.append(kg.dict.subj_global.filter(F.col("term") == s)
                     .select(F.lit("s").alias("k"), "id"))
    if p is not None:
        parts.append(kg.dict.predicates.filter(F.col("term") == p)
                     .select(F.lit("p").alias("k"), "id"))
    if o is not None:
        parts.append(kg.dict.obj_global.filter(F.col("term") == o)
                     .select(F.lit("o").alias("k"), "id"))
    found: dict[str, int] = {}
    if parts:
        u = parts[0]
        for df in parts[1:]:
            u = u.unionAll(df)
        for row in u.collect():
            found[row["k"]] = row["id"]
    sid = (found.get("s", 0)) if s is not None else None
    pid = (found.get("p", 0)) if p is not None else None
    oid = (found.get("o", 0)) if o is not None else None
    return sid, pid, oid


def triple_ids_with_pattern(kg: KG, s: str | None, p: str | None,
                            o: str | None) -> DataFrame | None:
    """ID-level pattern query; None means the empty short-circuit fired."""
    sid, pid, oid = _lookup_ids(kg, s, p, o)
    if 0 in (sid, pid, oid):
        return None
    return triple_ids_with_id_pattern(kg, sid, pid, oid)


def triple_ids_with_id_pattern(kg: KG, sid: int | None = None,
                               pid: int | None = None,
                               oid: int | None = None) -> DataFrame:
    """ID-level pattern entry taking IDs directly (reference
    ``triple_ids_with_id_pattern``, src/hdt.rs:334-345 — the id-array
    façade consumer).  ``None`` or 0 = wildcard, matching the reference's
    0-sentinel; routing picks the projection whose leading sort column is
    bound so the filter is a pruned scan."""
    sid, pid, oid = (x if x else None for x in (sid, pid, oid))
    if sid is not None:
        df = kg.spo.filter(F.col("s") == sid)
        if pid is not None:
            df = df.filter(F.col("p") == pid)
        if oid is not None:
            df = df.filter(F.col("o") == oid)
    elif oid is not None:
        df = kg.ops.filter(F.col("o") == oid)
        if pid is not None:
            df = df.filter(F.col("p") == pid)
    elif pid is not None:
        df = kg.pso.filter(F.col("p") == pid)
    else:
        df = kg.spo
    return df.select("s", "p", "o")


def ids_to_strings(kg: KG, ids: DataFrame) -> DataFrame:
    """(s,p,o ids) -> (s,p,o strings) via three dictionary joins.

    Each dict side is broadcast while its exact term count (known from the
    build) fits executor memory, so translation never shuffles the result
    set; huge dictionaries get a SHUFFLE_HASH hint instead of the default
    sort-merge join (guide §3.1): the dict side is unique-per-id and
    evenly sized, so a per-partition hash build is safe, and it removes
    the two full sorts of the (potentially result-sized or dataset-sized)
    ids side per join — AQE can still downgrade to a broadcast join at
    runtime when the post-shuffle ids side turns out tiny.
    """
    from .encode import BROADCAST_DICT_MAX_TERMS

    def maybe_b(df: DataFrame, n_terms: int) -> DataFrame:
        if n_terms < BROADCAST_DICT_MAX_TERMS:
            return F.broadcast(df)
        return df.hint("shuffle_hash")

    sd = maybe_b(kg.dict.subj_global.select(
        F.col("id").alias("s"), F.col("term").alias("s_term")),
        kg.dict.n_shared + kg.dict.n_subjects)
    pd_ = maybe_b(kg.dict.predicates.select(
        F.col("id").alias("p"), F.col("term").alias("p_term")),
        kg.dict.n_predicates)
    od = maybe_b(kg.dict.obj_global.select(
        F.col("id").alias("o"), F.col("term").alias("o_term")),
        kg.dict.n_shared + kg.dict.n_objects)
    return (
        ids.join(sd, "s").join(pd_, "p").join(od, "o")
        .select(F.col("s_term").alias("s"), F.col("p_term").alias("p"),
                F.col("o_term").alias("o"))
    )


def empty_frame(spark, schema: str) -> DataFrame:
    """An empty DataFrame with the DDL ``schema``, planned in the JVM alone
    (``createDataFrame([], ...)`` plans a Python RDD, and every action on
    it starts a Python worker)."""
    from pyspark.sql.types import StructType

    return spark.range(0).select(*[
        F.lit(None).cast(f.dataType).alias(f.name)
        for f in StructType.fromDDL(schema).fields])


def triples_with_pattern(kg: KG, s: str | None = None, p: str | None = None,
                         o: str | None = None) -> DataFrame:
    """String-level pattern query — the reference's main public API.

    Scale-safe routing (reference src/hdt.rs:266-314): any BOUND position
    compiles to the ID path — constant lookup, pruned projection scan
    (``triple_ids_with_pattern``), then string translation of only the
    RESULT rows (``ids_to_strings``).  A cold selective query therefore
    never materializes anything dataset-sized: the reference answers SP?
    with a binary search + pruned walk, and this is its Spark analog.

    The full string enumeration (``KG.str_enum``) is built only for the
    unbound ``???`` scan (inherently dataset-sized) — and if an earlier
    consumer (export, ``???``) already paid for it, bound queries reuse the
    cached batches (batch min/max stats prune like a sorted scan; reading
    an existing cache never *triggers* a dataset-sized materialization).
    """
    if s is None and p is None and o is None:
        return kg.str_enum()
    if kg._str_enum is not None:
        df = kg._str_enum
        for col, v in (("s", s), ("p", p), ("o", o)):
            if v is not None:
                df = df.filter(F.col(col) == v)
        return df
    ids = triple_ids_with_pattern(kg, s, p, o)
    if ids is None:  # unknown constant: provably empty, no scan launched
        return empty_frame(kg.spo.sparkSession, "s string, p string, o string")
    return ids_to_strings(kg, ids)


def triples_matching(kg: KG, s_terms: list[str] | None = None,
                     p_terms: list[str] | None = None,
                     o_terms: list[str] | None = None) -> DataFrame:
    """Q10: multi-constant matchers (reference src/hdt_graph.rs:138-202).

    Each position may carry a term LIST; the reference routes singletons to
    the indexed paths and evaluates lists as residual post-filters — here
    every bound position becomes a Catalyst ``isin``/equality filter over
    the persisted string enumeration, pushed into the cached columnar scan
    (batch min/max stats prune like the reference's index seek).
    """
    df = kg.str_enum()
    for col, terms in (("s", s_terms), ("p", p_terms), ("o", o_terms)):
        if terms:
            df = df.filter(F.col(col).isin(terms))
    return df


def subjects_with_po(kg: KG, p: str, o: str) -> DataFrame:
    """?PO projection to subjects only (reference src/hdt.rs:236-253)."""
    return triples_with_pattern(kg, p=p, o=o).select("s")
