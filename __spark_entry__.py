"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship KG query at sf0.001.
``queries()`` / ``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2, cross-checked by the driver against DuckDB at sf0.01.

The KG queries derive a transcripts table from the driver's ``documents``
parquet (one single-turn conversation per document), run the full pipeline
(extract -> four-section dict -> encode -> projections), and query it.  The
oracle SQL re-implements the same semantics independently as a DuckDB CTE
chain (hdtspark/oracles.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from hdtspark import metrics, oracles, pipeline, query, rules
from hdtspark.bitmap_triples import adjacency_stats

# --- shared constants for pattern queries (doc_id 7 exists at every sf) ---
CONV7 = f"{rules.BASE}/conv/conv-7"
TURN7 = f"{rules.BASE}/conv/conv-7/t/0"
ENT_SPARK = f"{rules.BASE}/e/apache-spark"

_kg_cache: dict = {}


def _transcripts_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.concat(F.lit("conv-"), F.col("doc_id").cast("string")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )


def _kg(spark: SparkSession, sf_dir: str) -> query.KG:
    key = (id(spark), sf_dir)
    if key not in _kg_cache:
        t = _transcripts_from_documents(spark, sf_dir)
        kg = pipeline.build_kg(t)
        pipeline.materialize(kg)
        _kg_cache[key] = kg
    return _kg_cache[key]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: build the KG at sf0.001 and enumerate all mention edges."""
    kg = _kg(spark, "/root/testdata/sf0.001")
    return query.triples_with_pattern(kg, p=rules.P_MENTIONS)


# ---------------------------------------------------------------------------
# queries(): (spark, sf_dir) -> DataFrame
# ---------------------------------------------------------------------------

def _q_extract(spark, sf_dir):
    from hdtspark import extract
    return extract.extract_triples(_transcripts_from_documents(spark, sf_dir))


def _q_dict(spark, sf_dir):
    return _kg(spark, sf_dir).dict.sections_df()


def _q_spo(spark, sf_dir):
    return _kg(spark, sf_dir).spo


def _q_ops(spark, sf_dir):
    return _kg(spark, sf_dir).ops


def _q_adj_stats(spark, sf_dir):
    return adjacency_stats(_kg(spark, sf_dir).adj)


def _q_bitmap_y(spark, sf_dir):
    """E3 y-layer: (pos_y, s, p, last_of_subject) — the bitmap_y view."""
    from hdtspark import bitmap_triples
    return bitmap_triples.bitmap_y(_kg(spark, sf_dir).adj)


def _q_void(spark, sf_dir):
    return metrics.void_stats_df(_kg(spark, sf_dir).spo)


def _pattern_query(s=None, p=None, o=None):
    def run(spark, sf_dir):
        return query.triples_with_pattern(_kg(spark, sf_dir), s, p, o)
    return run


def _q_po_subjects(spark, sf_dir):
    return query.subjects_with_po(_kg(spark, sf_dir), rules.P_TYPE, rules.C_ENTITY)


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _dd_docs(spark, sf_dir):
    """Dedup corpus: documents + injected exact duplicates of every 10th."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text")
    return docs.unionAll(dups)


def _embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


ANN_QUERY_IDS = [0, 1, 2]


def _toy_lsh() -> tuple[int, int]:
    """(bands, bits) of the fast-oracle toy LSH setting."""
    from hdtspark import simsearch
    return simsearch.LSH_BANDS_TOY, simsearch.LSH_BITS_TOY


_TOY_LSH = _toy_lsh()


def dedup_defaults() -> tuple[int, int]:
    """(NUM_HASHES, BANDS) production LSH defaults from hdtspark.dedup."""
    from hdtspark import dedup
    return dedup.NUM_HASHES, dedup.BANDS


def _q_dd_exact(spark, sf_dir):
    from hdtspark import dedup
    return dedup.exact_duplicates(_dd_docs(spark, sf_dir))


def _q_dd_minhash(spark, sf_dir):
    """Toy LSH setting (8 hashes / 4 bands) — the fast oracle check."""
    from hdtspark import dedup
    return dedup.near_duplicates_minhash(_dd_docs(spark, sf_dir),
                                         threshold=0.7, num_hashes=8,
                                         bands_n=4)


def _q_dd_minhash_prod(spark, sf_dir):
    """Production LSH setting (128 hashes / 16 bands, dedup.NUM_HASHES):
    same pipeline, real recall curve — checked against the parameterized
    DuckDB oracle at the same setting."""
    from hdtspark import dedup
    return dedup.near_duplicates_minhash(_dd_docs(spark, sf_dir),
                                         threshold=0.7)


def _q_dd_ngram(spark, sf_dir):
    from hdtspark import dedup
    return dedup.ngram_jaccard_pairs(_dd_docs(spark, sf_dir), threshold=0.5, k=5)


def _q_dd_simhash(spark, sf_dir):
    from hdtspark import dedup
    return dedup.simhash_near_pairs(_dd_docs(spark, sf_dir), max_hamming=3)


def _q_tx_tokens(spark, sf_dir):
    from hdtspark import textops
    return textops.token_counts(_docs(spark, sf_dir))


def _q_tx_quality(spark, sf_dir):
    from hdtspark import textops
    return textops.quality_scores(_docs(spark, sf_dir))


def _q_tx_langid(spark, sf_dir):
    from hdtspark import textops
    return textops.lang_id(_docs(spark, sf_dir))


def _q_tx_fingerprint(spark, sf_dir):
    from hdtspark import textops
    return textops.fingerprints(_docs(spark, sf_dir))


def _q_ann_topk(spark, sf_dir):
    from hdtspark import simsearch
    return simsearch.brute_force_topk(_embeddings(spark, sf_dir), ANN_QUERY_IDS, k=10)


def _q_ann_bucketed(spark, sf_dir):
    """Toy LSH setting (2 bands x 8 bits) — the fast oracle check."""
    from hdtspark import simsearch
    return simsearch.bucketed_topk(_embeddings(spark, sf_dir), ANN_QUERY_IDS,
                                   k=5, bands=simsearch.LSH_BANDS_TOY,
                                   bits=simsearch.LSH_BITS_TOY)


def _q_ann_bucketed_prod(spark, sf_dir):
    """Production LSH setting (4 bands x 16 bits, simsearch.LSH_BANDS):
    same pipeline, scale-ready bucket widths — checked against the
    parameterized DuckDB oracle at the same setting."""
    from hdtspark import simsearch
    return simsearch.bucketed_topk(_embeddings(spark, sf_dir), ANN_QUERY_IDS,
                                   k=5)


def _q_kg_lists(spark, sf_dir):
    """Q10 multi-constant matcher: mentions of two specific entities."""
    return query.triples_matching(
        _kg(spark, sf_dir),
        p_terms=[rules.P_MENTIONS],
        o_terms=[ENT_SPARK, f"{rules.BASE}/e/sql-table"],
    )


def _dd_emb(spark, sf_dir):
    """Dedup embedding corpus: + injected duplicate vectors (the driver
    embeddings are near-random: max natural cosine ~0.5)."""
    emb = _embeddings(spark, sf_dir).select("vec_id", "embedding")
    dups = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding")
    return emb.unionAll(dups)


def _q_dd_embedding(spark, sf_dir):
    """Toy LSH setting (2 bands x 8 bits) — the fast oracle check."""
    from hdtspark import dedup, simsearch
    return dedup.embedding_near_duplicates(
        _dd_emb(spark, sf_dir), threshold=0.99,
        bands=simsearch.LSH_BANDS_TOY, bits=simsearch.LSH_BITS_TOY)


def _q_dd_embedding_prod(spark, sf_dir):
    """Production LSH setting (4 bands x 16 bits): the scale path whose
    bucket-local self-join stays bucket-sized at 10^9 docs."""
    from hdtspark import dedup
    return dedup.embedding_near_duplicates(_dd_emb(spark, sf_dir),
                                           threshold=0.99)


def _q_ev_windowed(spark, sf_dir):
    from hdtspark import events_ops
    return events_ops.windowed_counts(
        spark.read.parquet(f"{sf_dir}/events.parquet"))


def _q_ev_top_users(spark, sf_dir):
    from hdtspark import events_ops
    return events_ops.top_users(
        spark.read.parquet(f"{sf_dir}/events.parquet"), k=3)


def _q_export_nt(spark, sf_dir):
    """S5 sink: the full enumeration as N-Triples lines."""
    from hdtspark import export
    kg = _kg(spark, sf_dir)
    return export.nt_lines(kg.str_enum())


def _q_nt_roundtrip(spark, sf_dir):
    """S3 source: write_nt -> read_nt -> identical enumeration."""
    import os
    import tempfile

    from hdtspark import export, sources
    kg = _kg(spark, sf_dir)
    path = os.path.join(tempfile.gettempdir(),
                        f"hdtspark_nt_rt_{os.path.basename(sf_dir.rstrip('/'))}")
    export.write_nt(kg, path)
    return sources.read_nt(spark, path)


def _q_ttl_roundtrip(spark, sf_dir):
    """S5/ttl: write_ttl -> parse back -> identical enumeration (the
    reference CLI's HDT->Turtle convert, src/main.rs:142-152)."""
    import os
    import tempfile

    from hdtspark import turtle
    kg = _kg(spark, sf_dir)
    path = os.path.join(tempfile.gettempdir(),
                        f"hdtspark_ttl_rt_{os.path.basename(sf_dir.rstrip('/'))}.ttl")
    turtle.write_ttl(kg, path, {**turtle.default_prefixes(),
                                "ex": rules.BASE + "/"})
    return turtle.read_ttl(spark, path)


def _q_hdt_roundtrip(spark, sf_dir):
    """S1+S2: KG -> HDT binary file -> KG -> identical string enumeration."""
    import os
    import tempfile

    from hdtspark import hdt_binary
    kg = _kg(spark, sf_dir)
    path = os.path.join(tempfile.gettempdir(),
                        f"hdtspark_hdt_rt_{os.path.basename(sf_dir.rstrip('/'))}.hdt")
    hdt_binary.write_hdt_file(kg, path)
    kg2 = hdt_binary.read_hdt_spark(spark, path)
    return kg2.str_enum()


def _q_bgp(spark, sf_dir):
    """§2.5: 2-pattern BGP (?turn mentions ?ent . ?ent type Entity)."""
    from hdtspark import sparql
    return sparql.bgp(_kg(spark, sf_dir), [
        ("?turn", rules.P_MENTIONS, "?ent"),
        ("?ent", rules.P_TYPE, rules.C_ENTITY),
    ])


def _q_bgp_filter(spark, sf_dir):
    """§2.5: SPARQL string query with FILTER + DISTINCT (Catalyst-delegated
    expression over the ID-level BGP result)."""
    from hdtspark import sparql
    return sparql.query(_kg(spark, sf_dir), (
        "SELECT DISTINCT ?turn ?ent { "
        f"?turn <{rules.P_MENTIONS}> ?ent . "
        'FILTER (CONTAINS(?ent, "spark")) }'))


def _q_sparql_agg(spark, sf_dir):
    """§2.5/§2.6: SPARQL GROUP BY aggregate delegated to Catalyst."""
    from hdtspark import sparql
    return sparql.query(_kg(spark, sf_dir),
                        "SELECT ?p (COUNT(*) AS ?n) { ?s ?p ?o } GROUP BY ?p")


P_MENTIONED_BY = f"{rules.BASE}/p/mentionedBy"


def _q_sparql_bind(spark, sf_dir):
    """§2.5: BIND — Catalyst expression projection mid-group, visible to a
    later FILTER in the same group."""
    from hdtspark import sparql
    return sparql.query(_kg(spark, sf_dir), (
        "SELECT ?turn ?ent ?u { "
        f"?turn <{rules.P_MENTIONS}> ?ent . "
        "BIND(UCASE(?ent) AS ?u) "
        'FILTER (CONTAINS(?ent, "spark")) }'))


def _q_sparql_values(spark, sf_dir):
    """§2.5: VALUES — literal solution rows joined into the BGP."""
    from hdtspark import sparql
    return sparql.query(_kg(spark, sf_dir), (
        "SELECT ?turn ?ent { "
        f"?turn <{rules.P_MENTIONS}> ?ent . "
        f"VALUES ?ent {{ <{ENT_SPARK}> <{rules.BASE}/e/sql-table> }} }}"))


def _q_sparql_minus(spark, sf_dir):
    """§2.5: MINUS — left-anti join on the shared variables (turns that
    mention apache-spark are removed entirely)."""
    from hdtspark import sparql
    return sparql.query(_kg(spark, sf_dir), (
        "SELECT ?turn ?ent { "
        f"?turn <{rules.P_MENTIONS}> ?ent "
        f"MINUS {{ ?turn <{rules.P_MENTIONS}> <{ENT_SPARK}> }} }}"))


def _q_sparql_exists(spark, sf_dir):
    """§2.5: FILTER EXISTS — left-semi join on the shared variable."""
    from hdtspark import sparql
    return sparql.query(_kg(spark, sf_dir), (
        "SELECT ?turn ?ent { "
        f"?turn <{rules.P_MENTIONS}> ?ent "
        f"FILTER EXISTS {{ ?turn <{rules.P_MENTIONS}> <{ENT_SPARK}> }} }}"))


def _q_sparql_not_exists(spark, sf_dir):
    """§2.5: FILTER NOT EXISTS — left-anti join on the shared variable
    (agrees with MINUS here; the no-shared-var divergence is exact-checked
    in the conformance sweep)."""
    from hdtspark import sparql
    return sparql.query(_kg(spark, sf_dir), (
        "SELECT ?turn ?ent { "
        f"?turn <{rules.P_MENTIONS}> ?ent "
        f"FILTER NOT EXISTS {{ ?turn <{rules.P_MENTIONS}> <{ENT_SPARK}> }} }}"))


def _q_sparql_subquery(spark, sf_dir):
    """§2.5: nested SELECT — aggregate subquery joined into the outer
    group, its ?n visible to the outer FILTER (numeric, computed column)."""
    from hdtspark import sparql
    return sparql.query(_kg(spark, sf_dir), (
        "SELECT ?ent ?n { "
        f"{{ SELECT ?ent (COUNT(*) AS ?n) {{ ?turn <{rules.P_MENTIONS}> ?ent }} "
        "GROUP BY ?ent } FILTER (?n >= 5) }"))


def _q_construct(spark, sf_dir):
    """§2.5: CONSTRUCT — template instantiation over the WHERE solutions,
    returned as a distinct (s, p, o) triples DataFrame."""
    from hdtspark import sparql
    return sparql.query(_kg(spark, sf_dir), (
        f"CONSTRUCT {{ ?ent <{P_MENTIONED_BY}> ?turn }} "
        f"WHERE {{ ?turn <{rules.P_MENTIONS}> ?ent }}"))


def _q_describe(spark, sf_dir):
    """§2.5: DESCRIBE — the S??/??O union for the resource."""
    from hdtspark import sparql
    return sparql.query(_kg(spark, sf_dir), f"DESCRIBE <{ENT_SPARK}>")


def _q_path_seq(spark, sf_dir):
    """§2.5: property path sequence — <hasTurn>/<mentions> desugars to a
    fresh-variable ID-level BGP join."""
    from hdtspark import sparql
    return sparql.query(_kg(spark, sf_dir), (
        f"SELECT ?c ?e {{ ?c <{rules.P_HASTURN}>/<{rules.P_MENTIONS}> ?e }}"))


def _q_path_alt(spark, sf_dir):
    """§2.5: property path alternative — (<mentions>|<role>) multiplies
    into UNION arms."""
    from hdtspark import sparql
    return sparql.query(_kg(spark, sf_dir), (
        f"SELECT ?t ?x {{ ?t (<{rules.P_MENTIONS}>|<{rules.P_ROLE}>) ?x }}"))


P_PREVDOC = f"{rules.BASE}/p/prevDoc"


def _chain_kg(spark, sf_dir):
    """A doc-chain KG (doc_i -prevDoc-> doc_{i-1} within each decade):
    multi-hop structure for the transitive-closure path row — the
    documents-derived transcripts are single-turn, so the main KG has no
    chains deeper than one hop."""
    key = ("chain", id(spark), sf_dir)
    if key not in _kg_cache:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        tri = docs.filter(F.col("doc_id") % 10 != 0).select(
            F.concat(F.lit(f"{rules.BASE}/d/"),
                     F.col("doc_id").cast("string")).alias("s"),
            F.lit(P_PREVDOC).alias("p"),
            F.concat(F.lit(f"{rules.BASE}/d/"),
                     (F.col("doc_id") - 1).cast("string")).alias("o"),
        )
        _kg_cache[key] = pipeline.build_kg_from_triples(
            tri, with_adjacency=False)
    return _kg_cache[key]


def _q_path_plus(spark, sf_dir):
    """§2.5: one-or-more path — distributed semi-naive transitive closure
    over the doc chain (depth up to 9), iterating on 8-byte IDs."""
    from hdtspark import sparql
    return sparql.query(_chain_kg(spark, sf_dir),
                        f"SELECT ?a ?b {{ ?a <{P_PREVDOC}>+ ?b }}")


def _q_path_star(spark, sf_dir):
    """§2.5: zero-or-more path — the p+ closure unioned (set semantics)
    with reflexive pairs over the node set (= the dictionary's non-predicate
    sections, no triple scan)."""
    from hdtspark import sparql
    return sparql.query(_chain_kg(spark, sf_dir),
                        f"SELECT ?a ?b {{ ?a <{P_PREVDOC}>* ?b }}")


def _q_path_opt(spark, sf_dir):
    """§2.5: zero-or-one path — single step ∪ reflexive node pairs."""
    from hdtspark import sparql
    return sparql.query(_chain_kg(spark, sf_dir),
                        f"SELECT ?a ?b {{ ?a <{P_PREVDOC}>? ?b }}")


P_DOCNUM = f"{rules.BASE}/p/docNum"


def _num_kg(spark, sf_dir):
    """A KG of (doc, docNum, "<id>"^^xsd:integer) triples: varied numeric
    typed literals (the documents-derived transcripts are single-turn, so
    the main KG's only integers are all "0")."""
    key = ("num", id(spark), sf_dir)
    if key not in _kg_cache:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        tri = docs.select(
            F.concat(F.lit(f"{rules.BASE}/d/"),
                     F.col("doc_id").cast("string")).alias("s"),
            F.lit(P_DOCNUM).alias("p"),
            F.concat(F.lit('"'), F.col("doc_id").cast("string"),
                     F.lit(f'"^^<{rules.XSD_INTEGER}>')).alias("o"),
        )
        _kg_cache[key] = pipeline.build_kg_from_triples(
            tri, with_adjacency=False)
    return _kg_cache[key]


def _q_path_negset(spark, sf_dir):
    """§2.5: negated property set — every edge whose predicate is not
    rdf:type (ID-route scan + residual p-NOT-IN filter)."""
    from hdtspark import sparql
    return sparql.query(_kg(spark, sf_dir),
                        f"SELECT ?s ?o {{ ?s !<{rules.P_TYPE}> ?o }}")


def _q_path_composite_plus(spark, sf_dir):
    """§2.5: closure over a COMPOSITE path — (prevDoc/prevDoc)+ =
    even-length chains; edge relation BGP-compiled once, iterated
    semi-naively."""
    from hdtspark import sparql
    return sparql.query(
        _chain_kg(spark, sf_dir),
        f"SELECT ?a ?b {{ ?a (<{P_PREVDOC}>/<{P_PREVDOC}>)+ ?b }}")


def _q_sparql_numeric(spark, sf_dir):
    """§2.5: typed-literal numeric semantics — FILTER and ORDER BY compare
    xsd:integer literals by VALUE (string order diverges above id 9: "12"
    sorts before "5" lexically), checked against DuckDB's native numeric
    compare.  LIMIT makes the ordering observable in the row SET."""
    from hdtspark import sparql
    return sparql.query(_num_kg(spark, sf_dir), (
        f"SELECT ?d ?n {{ ?d <{P_DOCNUM}> ?n FILTER (?n > 5) }} "
        "ORDER BY ?n LIMIT 7"))


def _q_sparql_builtins(spark, sf_dir):
    """§2.5: SPARQL term builtins (round 5) — isIRI / IRI-constant
    inequality in FILTER, STR + STRAFTER + IF + CONTAINS in BIND chains;
    all evaluate as Catalyst expressions over canonical term strings
    (reference delegates these to spareval, src/sparql.rs:45-83)."""
    from hdtspark import sparql
    return sparql.query(_kg(spark, sf_dir), (
        "SELECT ?turn ?slug ?flag { "
        f"?turn <{rules.P_MENTIONS}> ?ent . "
        f"FILTER (isIRI(?ent) && ?ent != <{rules.BASE}/e/sql-table>) "
        'BIND(STRAFTER(STR(?ent), "/e/") AS ?slug) '
        'BIND(IF(CONTAINS(?slug, "spark"), "y", "n") AS ?flag) }'))


def _q_sparql_sum(spark, sf_dir):
    """§2.5: numeric aggregates (round 5) — SUM applies XSD numeric
    semantics to typed-literal terms (non-numeric terms become NULL and
    are skipped, per the SPARQL Aggregate error rule)."""
    from hdtspark import sparql
    return sparql.query(_kg(spark, sf_dir), (
        f"SELECT ?c (SUM(?n) AS ?total) {{ ?c <{rules.P_HASTURN}> ?t . "
        f"?t <{rules.P_INDEX}> ?n }} GROUP BY ?c"))


def _q_mm_features(spark, sf_dir):
    from hdtspark import multimodal
    return multimodal.decode_features(multimodal.attach_payload(_docs(spark, sf_dir)))


def _q_mm_resize(spark, sf_dir):
    from hdtspark import multimodal
    return multimodal.resize_images(
        multimodal.attach_payload(_docs(spark, sf_dir))).drop("out_bytes")


def _q_mm_frames(spark, sf_dir):
    from hdtspark import multimodal
    return multimodal.sample_frames(
        multimodal.attach_payload(_docs(spark, sf_dir))).drop("frame_bytes")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # Front-loaded (VERDICT r5 next #3): the 11 rows the round-5
        # 50-query gate rotated out (10 last verified in r4 +
        # ann_bucketed_prod, never yet driver-verified) go FIRST so a
        # 50-row gate covers the previously-unverified complement; the
        # kg_*/dd_* rows below have been stable for three rounds.
        "ann_topk": _q_ann_topk,
        "ann_bucketed": _q_ann_bucketed,
        "ann_bucketed_prod": _q_ann_bucketed_prod,
        "ev_windowed": _q_ev_windowed,
        "ev_top_users": _q_ev_top_users,
        "mm_features": _q_mm_features,
        "mm_resize": _q_mm_resize,
        "mm_frames": _q_mm_frames,
        "tx_quality": _q_tx_quality,
        "tx_langid": _q_tx_langid,
        "tx_fingerprint": _q_tx_fingerprint,
        # S3/S4 extraction (reference src/nt.rs:165-219)
        "kg_extract": _q_extract,
        # D4/D5 four-section dictionary (src/nt.rs:245-266, dict_sect_pfc.rs)
        "kg_dict": _q_dict,
        # E1/E2 encode + dedup + SPO sort (src/nt.rs:131-159)
        "kg_spo": _q_spo,
        # E5 OPS projection / OP-index analog (src/triples.rs:163-209)
        "kg_ops": _q_ops,
        # E3 adjacency layout stats + y-layer bitmap (src/triples.rs:213-274)
        "kg_adj_stats": _q_adj_stats,
        "kg_bitmap_y": _q_bitmap_y,
        # F1 VOID stats (src/nt.rs:47-113)
        "kg_void_stats": _q_void,
        # Q1-Q9 pattern access paths (src/hdt.rs:266-314)
        "kg_q_all": _pattern_query(),
        "kg_q_s": _pattern_query(s=TURN7),
        "kg_q_sp": _pattern_query(s=TURN7, p=rules.P_MENTIONS),
        "kg_q_so": _pattern_query(s=CONV7, o=TURN7),
        "kg_q_spo": _pattern_query(s=TURN7, p=rules.P_MENTIONS, o=ENT_SPARK),
        "kg_q_p": _pattern_query(p=rules.P_MENTIONS),
        "kg_q_o": _pattern_query(o=ENT_SPARK),
        "kg_q_po": _pattern_query(p=rules.P_TYPE, o=rules.C_ENTITY),
        "kg_q_po_subjects": _q_po_subjects,
        # Q10: multi-constant term-list matcher
        "kg_q_lists": _q_kg_lists,
        # S5 NT sink / S3 NT source round-trip / §2.5 BGP surface
        "kg_export_nt": _q_export_nt,
        "kg_nt_roundtrip": _q_nt_roundtrip,
        "kg_ttl_roundtrip": _q_ttl_roundtrip,
        # S1/S2 HDT-binary source+sink round-trip
        "kg_hdt_roundtrip": _q_hdt_roundtrip,
        "kg_bgp": _q_bgp,
        "kg_bgp_filter": _q_bgp_filter,
        "kg_sparql_agg": _q_sparql_agg,
        "kg_sparql_bind": _q_sparql_bind,
        "kg_sparql_values": _q_sparql_values,
        "kg_sparql_minus": _q_sparql_minus,
        "kg_sparql_exists": _q_sparql_exists,
        "kg_sparql_not_exists": _q_sparql_not_exists,
        "kg_sparql_subquery": _q_sparql_subquery,
        "kg_construct": _q_construct,
        "kg_describe": _q_describe,
        "kg_path_seq": _q_path_seq,
        "kg_path_alt": _q_path_alt,
        "kg_path_plus": _q_path_plus,
        "kg_path_star": _q_path_star,
        "kg_path_opt": _q_path_opt,
        "kg_path_negset": _q_path_negset,
        "kg_path_composite_plus": _q_path_composite_plus,
        "kg_sparql_numeric": _q_sparql_numeric,
        "kg_sparql_builtins": _q_sparql_builtins,
        "kg_sparql_sum": _q_sparql_sum,
        # Training-data pipeline: deduplication
        "dd_exact": _q_dd_exact,
        "dd_minhash": _q_dd_minhash,
        "dd_minhash_prod": _q_dd_minhash_prod,
        "dd_ngram_jaccard": _q_dd_ngram,
        "dd_simhash": _q_dd_simhash,
        "dd_embedding": _q_dd_embedding,
        "dd_embedding_prod": _q_dd_embedding_prod,
        # Text analysis (tx_quality/langid/fingerprint front-loaded above)
        "tx_tokens": _q_tx_tokens,
    }


# ---------------------------------------------------------------------------
# oracle_sql(): DuckDB equivalents over the same parquet views
# ---------------------------------------------------------------------------

def oracle_sql() -> dict[str, str]:
    k = oracles.kg_oracle
    return {
        "kg_extract": k("SELECT s, p, o, conv_id, turn_idx FROM raw"),
        "kg_dict": k(
            "SELECT 'shared' AS section, term, id FROM d_shared "
            "UNION ALL SELECT 'subjects', term, id FROM d_subj "
            "UNION ALL SELECT 'predicates', term, id FROM d_pred "
            "UNION ALL SELECT 'objects', term, id FROM d_obj"
        ),
        "kg_spo": k("SELECT s, p, o FROM spo"),
        "kg_ops": k("SELECT o, p, s FROM spo"),
        "kg_adj_stats": k(
            "SELECT s, COUNT(DISTINCT p) AS n_preds, COUNT(*) AS n_objs "
            "FROM spo GROUP BY s"
        ),
        "kg_bitmap_y": k(
            "SELECT CAST(row_number() OVER (ORDER BY s, p) - 1 AS BIGINT)"
            " AS pos_y, s, p,"
            " (lead(s) OVER (ORDER BY s, p) IS DISTINCT FROM s)"
            " AS last_of_subject"
            " FROM (SELECT DISTINCT s, p FROM spo)"
        ),
        "kg_void_stats": k(
            "SELECT 'distinct_objects' AS key, COUNT(DISTINCT o) AS value FROM spo "
            "UNION ALL SELECT 'distinct_subjects', COUNT(DISTINCT s) FROM spo "
            "UNION ALL SELECT 'num_predicates', COUNT(DISTINCT p) FROM spo "
            "UNION ALL SELECT 'num_triples', COUNT(*) FROM spo"
        ),
        "kg_q_all": k("SELECT s, p, o FROM tri"),
        "kg_q_s": k(f"SELECT s, p, o FROM tri WHERE s = '{TURN7}'"),
        "kg_q_sp": k(
            f"SELECT s, p, o FROM tri WHERE s = '{TURN7}' AND p = '{rules.P_MENTIONS}'"
        ),
        "kg_q_so": k(
            f"SELECT s, p, o FROM tri WHERE s = '{CONV7}' AND o = '{TURN7}'"
        ),
        "kg_q_spo": k(
            f"SELECT s, p, o FROM tri WHERE s = '{TURN7}' "
            f"AND p = '{rules.P_MENTIONS}' AND o = '{ENT_SPARK}'"
        ),
        "kg_q_p": k(f"SELECT s, p, o FROM tri WHERE p = '{rules.P_MENTIONS}'"),
        "kg_q_o": k(f"SELECT s, p, o FROM tri WHERE o = '{ENT_SPARK}'"),
        "kg_q_po": k(
            f"SELECT s, p, o FROM tri WHERE p = '{rules.P_TYPE}' "
            f"AND o = '{rules.C_ENTITY}'"
        ),
        "kg_q_po_subjects": k(
            f"SELECT s FROM tri WHERE p = '{rules.P_TYPE}' "
            f"AND o = '{rules.C_ENTITY}'"
        ),
        "kg_q_lists": k(
            f"SELECT s, p, o FROM tri WHERE p = '{rules.P_MENTIONS}' "
            f"AND o IN ('{ENT_SPARK}', '{rules.BASE}/e/sql-table')"
        ),
        "kg_export_nt": oracles.export_nt_oracle(),
        "kg_nt_roundtrip": k("SELECT s, p, o FROM tri"),
        "kg_ttl_roundtrip": k("SELECT s, p, o FROM tri"),
        "kg_hdt_roundtrip": k("SELECT s, p, o FROM tri"),
        "kg_bgp": oracles.bgp_oracle(rules.P_MENTIONS, rules.P_TYPE,
                                     rules.C_ENTITY),
        "kg_bgp_filter": k(
            f"SELECT DISTINCT s AS turn, o AS ent FROM tri "
            f"WHERE p = '{rules.P_MENTIONS}' AND contains(o, 'spark')"
        ),
        "kg_sparql_agg": k("SELECT p, COUNT(*) AS n FROM tri GROUP BY p"),
        "kg_sparql_bind": k(
            f"SELECT s AS turn, o AS ent, upper(o) AS u FROM tri "
            f"WHERE p = '{rules.P_MENTIONS}' AND contains(o, 'spark')"
        ),
        "kg_sparql_values": k(
            f"SELECT s AS turn, o AS ent FROM tri "
            f"WHERE p = '{rules.P_MENTIONS}' "
            f"AND o IN ('{ENT_SPARK}', '{rules.BASE}/e/sql-table')"
        ),
        "kg_sparql_minus": k(
            f"SELECT s AS turn, o AS ent FROM tri "
            f"WHERE p = '{rules.P_MENTIONS}' AND s NOT IN ("
            f"SELECT s FROM tri WHERE p = '{rules.P_MENTIONS}' "
            f"AND o = '{ENT_SPARK}')"
        ),
        "kg_sparql_exists": k(
            f"SELECT s AS turn, o AS ent FROM tri "
            f"WHERE p = '{rules.P_MENTIONS}' AND s IN ("
            f"SELECT s FROM tri WHERE p = '{rules.P_MENTIONS}' "
            f"AND o = '{ENT_SPARK}')"
        ),
        "kg_sparql_not_exists": k(
            f"SELECT s AS turn, o AS ent FROM tri "
            f"WHERE p = '{rules.P_MENTIONS}' AND s NOT IN ("
            f"SELECT s FROM tri WHERE p = '{rules.P_MENTIONS}' "
            f"AND o = '{ENT_SPARK}')"
        ),
        "kg_sparql_subquery": k(
            f"SELECT o AS ent, COUNT(*) AS n FROM tri "
            f"WHERE p = '{rules.P_MENTIONS}' GROUP BY o "
            f"HAVING COUNT(*) >= 5"
        ),
        "kg_construct": k(
            f"SELECT DISTINCT o AS s, '{P_MENTIONED_BY}' AS p, s AS o "
            f"FROM tri WHERE p = '{rules.P_MENTIONS}'"
        ),
        "kg_describe": k(
            f"SELECT DISTINCT s, p, o FROM tri "
            f"WHERE s = '{ENT_SPARK}' OR o = '{ENT_SPARK}'"
        ),
        "kg_path_seq": k(
            f"SELECT t1.s AS c, t2.o AS e FROM tri t1 JOIN tri t2 "
            f"ON t1.o = t2.s AND t1.p = '{rules.P_HASTURN}' "
            f"AND t2.p = '{rules.P_MENTIONS}'"
        ),
        "kg_path_alt": k(
            f"SELECT s AS t, o AS x FROM tri "
            f"WHERE p IN ('{rules.P_MENTIONS}', '{rules.P_ROLE}')"
        ),
        "kg_path_plus": f"""
WITH RECURSIVE edges AS (
  SELECT '{rules.BASE}/d/' || CAST(doc_id AS VARCHAR) AS a,
         '{rules.BASE}/d/' || CAST(doc_id - 1 AS VARCHAR) AS b
  FROM documents WHERE doc_id % 10 <> 0
), cl AS (
  SELECT a, b FROM edges
  UNION
  SELECT cl.a, e.b FROM cl JOIN edges e ON cl.b = e.a
)
SELECT a, b FROM cl
""",
        # star/opt: closure/step ∪ reflexive pairs over the chain graph's
        # node set (UNION dedups, matching the engine's set semantics)
        "kg_path_star": f"""
WITH RECURSIVE edges AS (
  SELECT '{rules.BASE}/d/' || CAST(doc_id AS VARCHAR) AS a,
         '{rules.BASE}/d/' || CAST(doc_id - 1 AS VARCHAR) AS b
  FROM documents WHERE doc_id % 10 <> 0
), cl AS (
  SELECT a, b FROM edges
  UNION
  SELECT cl.a, e.b FROM cl JOIN edges e ON cl.b = e.a
), nodes AS (
  SELECT a AS n FROM edges UNION SELECT b FROM edges
)
SELECT a, b FROM cl UNION SELECT n, n FROM nodes
""",
        "kg_path_opt": f"""
WITH edges AS (
  SELECT '{rules.BASE}/d/' || CAST(doc_id AS VARCHAR) AS a,
         '{rules.BASE}/d/' || CAST(doc_id - 1 AS VARCHAR) AS b
  FROM documents WHERE doc_id % 10 <> 0
), nodes AS (
  SELECT a AS n FROM edges UNION SELECT b FROM edges
)
SELECT a, b FROM edges UNION SELECT n, n FROM nodes
""",
        "kg_path_negset": k(
            f"SELECT s, o FROM tri WHERE p <> '{rules.P_TYPE}'"
        ),
        "kg_path_composite_plus": f"""
WITH RECURSIVE edges AS (
  SELECT '{rules.BASE}/d/' || CAST(doc_id AS VARCHAR) AS a,
         '{rules.BASE}/d/' || CAST(doc_id - 1 AS VARCHAR) AS b
  FROM documents WHERE doc_id % 10 <> 0
), e2 AS (
  SELECT l.a, r2.b FROM edges l JOIN edges r2 ON l.b = r2.a
), cl AS (
  SELECT a, b FROM e2
  UNION
  SELECT cl.a, e.b FROM cl JOIN e2 e ON cl.b = e.a
)
SELECT a, b FROM cl
""",
        "kg_sparql_numeric": f"""
SELECT '{rules.BASE}/d/' || CAST(doc_id AS VARCHAR) AS d,
       '"' || CAST(doc_id AS VARCHAR) || '"^^<{rules.XSD_INTEGER}>' AS n
FROM documents WHERE doc_id > 5 ORDER BY doc_id LIMIT 7
""",
        "kg_sparql_builtins": k(
            f"SELECT s AS turn, "
            f"substr(o, strpos(o, '/e/') + 3) AS slug, "
            f"CASE WHEN contains(substr(o, strpos(o, '/e/') + 3), 'spark') "
            f"THEN 'y' ELSE 'n' END AS flag "
            f"FROM tri WHERE p = '{rules.P_MENTIONS}' "
            f"AND o <> '{rules.BASE}/e/sql-table'"
        ),
        "kg_sparql_sum": k(
            f"SELECT h.s AS c, "
            f"SUM(CAST(regexp_extract(i.o, '^\"(.*)\"', 1) AS DOUBLE)) "
            f"AS total "
            f"FROM tri h JOIN tri i ON h.o = i.s "
            f"WHERE h.p = '{rules.P_HASTURN}' AND i.p = '{rules.P_INDEX}' "
            f"GROUP BY h.s"
        ),
        "dd_exact": oracles.exact_dedup_oracle(),
        "dd_simhash": oracles.simhash_oracle(max_hamming=3),
        "dd_minhash": oracles.minhash_oracle(num_hashes=8, bands=4,
                                             threshold=0.7),
        "dd_minhash_prod": oracles.minhash_oracle(
            num_hashes=dedup_defaults()[0], bands=dedup_defaults()[1],
            threshold=0.7),
        "dd_ngram_jaccard": oracles.ngram_jaccard_oracle(k=5, threshold=0.5),
        **oracles.textops_oracles(),
        "dd_embedding": oracles.embedding_dedup_oracle(
            threshold=0.99, bands=_TOY_LSH[0], bits=_TOY_LSH[1]),
        "dd_embedding_prod": oracles.embedding_dedup_oracle(threshold=0.99),
        "ann_topk": oracles.ann_oracle(ANN_QUERY_IDS, k=10, bucketed=False),
        "ann_bucketed": oracles.ann_oracle(ANN_QUERY_IDS, k=5, bucketed=True,
                                           bands=_TOY_LSH[0], bits=_TOY_LSH[1]),
        "ann_bucketed_prod": oracles.ann_oracle(ANN_QUERY_IDS, k=5,
                                                bucketed=True),
        "ev_windowed": """
SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events GROUP BY 1, 2
""",
        "ev_top_users": """
WITH sums AS (
  SELECT event_type, user_id,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
  FROM events GROUP BY 1, 2
)
SELECT event_type, user_id, sum_cents,
       CAST(row_number() OVER (PARTITION BY event_type
                               ORDER BY sum_cents DESC, user_id) AS BIGINT) AS rank
FROM sums QUALIFY rank <= 3
""",
        "mm_features": oracles.multimodal_oracle(),
        "mm_resize": oracles.resize_oracle(),
        "mm_frames": oracles.frames_oracle(),
    }
