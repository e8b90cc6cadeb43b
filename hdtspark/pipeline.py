"""End-to-end KG construction: transcripts -> materialized KG.

The in-memory orchestration: the KG's tables become ``localCheckpoint``
leaves, one-node plans that queries read without re-planning the build.
Durable materialization with checkpoints/resume lives in checkpoint.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from . import bitmap_triples, encode, extract
from .dict_builder import build_dict
from .query import KG


def build_kg(transcripts: DataFrame, use_pandas_udf: bool = False,
             cache: bool = True, with_adjacency: bool = True) -> KG:
    """Run extract -> dict -> encode -> projections (+ adjacency)."""
    triples_str = extract.extract_triples(transcripts, use_pandas_udf=use_pandas_udf)
    return build_kg_from_triples(triples_str, cache=cache,
                                 with_adjacency=with_adjacency)


def build_kg_from_triples(triples_str: DataFrame, cache: bool = True,
                          with_adjacency: bool = True) -> KG:
    """dict -> encode -> projections over pre-extracted (s, p, o) strings.

    The entry point for non-transcript sources — e.g. an N-Triples file via
    sources.read_nt (the reference's Hdt::read_nt conversion path,
    src/nt.rs:28-43).

    With ``cache`` the dictionary ``ids`` table and ``spo`` become lazy
    ``localCheckpoint`` leaves: each fills on its first action, and every
    later plan over it (encode, projections, queries, SPARQL, str_enum) is
    one ``LogicalRDD`` node instead of the whole build lineage, which each
    query DataFrame would otherwise re-analyze.  ``ops``/``pso`` stay lazy
    projections of the ``spo`` leaf until ``materialize`` pins them.
    Trade-off: local-checkpoint blocks live on the executors and are not
    recomputed after executor loss; the durable ``checkpoint.materialize_kg``
    (parquet stages) is the fault-tolerant route.
    """
    if cache:
        # Raw triples feed the dictionary term-agg and the encode joins;
        # DISK_ONLY persist lands on spark.local.dir (tmpfs in local mode,
        # executor NVMe on a cluster) — compact serialized blocks, no
        # columnar-compression build cost, re-reads are sub-second.
        from pyspark import StorageLevel

        triples_str = triples_str.persist(StorageLevel.DISK_ONLY)

    d = build_dict(triples_str, leaf=cache)
    # Persist the packed pre-exchange join output iff the raw triples are
    # cached too (same lifecycle): the range exchange's sampling job and
    # the exchange then share ONE execution of the three dictionary joins
    # instead of two (encode.encode_triples docstring).
    deps: list[DataFrame] = []
    spo = encode.encode_triples(triples_str, d,
                                deps_out=deps if cache else None)
    if cache:
        spo = spo.localCheckpoint(eager=False)
    bits = encode.dict_bits(d)
    ops = encode.ops_projection(spo, bits=bits)
    pso = encode.pso_projection(spo, bits=bits)
    # Salt decision from the dict build's free degree statistic — no
    # sample-probe job, and deterministic across reruns.
    adj = (bitmap_triples.adjacency(
        spo, salt_buckets=bitmap_triples.salt_buckets_for(
            d.max_raw_subj_degree), bits=bits)
        if with_adjacency else None)

    return KG(dict=d, spo=spo, ops=ops, pso=pso, adj=adj,
              triples_str=triples_str, build_deps=tuple(deps))


def materialize(kg: KG) -> int:
    """Force full computation and leave ``kg`` query-ready; returns the
    triple count.

    spo first (everything hangs off it), then the three derived structures
    CONCURRENTLY — Spark's scheduler runs independent jobs in parallel, so
    the projections' exchanges overlap instead of paying three sequential
    stage latencies (on a cluster these are independent job DAGs too).
    ``ops`` and ``pso`` are pinned as ``localCheckpoint`` leaves, so ??O,
    ?PO and ?P? queries scan them instead of re-shuffling spo; ``adj`` is
    only counted.  Once spo is stored, the build caches it superseded (the
    dictionary's ranked-terms input and the packed encode output) are
    released.
    """
    from concurrent.futures import ThreadPoolExecutor

    n = kg.spo.count()
    with ThreadPoolExecutor(max_workers=3) as ex:
        ops, pso = (ex.submit(df.localCheckpoint, eager=True)
                    for df in (kg.ops, kg.pso))
        adj = ex.submit(kg.adj.count) if kg.adj is not None else None
        kg.ops, kg.pso = ops.result(), pso.result()
        if adj is not None:
            adj.result()
    for df in (*kg.build_deps, *kg.dict.deps):
        df.unpersist()
    kg.build_deps, kg.dict.deps = (), ()
    return n
