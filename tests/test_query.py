"""All 8 triple-pattern access paths vs oracle filtered enumeration.

The metamorphic pattern of reference src/triples.rs:451-507 / src/hdt.rs:
472-476: every indexed path must equal a filter over the full scan.
"""

from __future__ import annotations

import pytest

from hdtspark import query, rules


def _got(kg, s=None, p=None, o=None):
    return sorted(tuple(r) for r in query.triples_with_pattern(kg, s, p, o).collect())


def _exp(okg, s=None, p=None, o=None):
    return sorted(okg.pattern(s, p, o))


CONV = "http://ex.org/conv/conv-000007"
TURN = "http://ex.org/conv/conv-000007/t/2"
ENT = "http://ex.org/e/apache-spark"


def test_q5_full_scan(kg, golden_oracle):
    assert _got(kg) == _exp(golden_oracle)


def test_q4_s(kg, golden_oracle):
    assert _got(kg, s=TURN) == _exp(golden_oracle, s=TURN)
    assert _got(kg, s=CONV) == _exp(golden_oracle, s=CONV)


def test_q2_sp(kg, golden_oracle):
    assert _got(kg, s=TURN, p=rules.P_MENTIONS) == _exp(golden_oracle, s=TURN, p=rules.P_MENTIONS)


def test_q3_so(kg, golden_oracle):
    assert _got(kg, s=TURN, o=ENT) == _exp(golden_oracle, s=TURN, o=ENT)


def test_q1_spo_ask(kg, golden_oracle):
    got = _got(kg, s=TURN, p=rules.P_MENTIONS, o=ENT)
    assert got == _exp(golden_oracle, s=TURN, p=rules.P_MENTIONS, o=ENT)


def test_q6_p(kg, golden_oracle):
    assert _got(kg, p=rules.P_HASTURN) == _exp(golden_oracle, p=rules.P_HASTURN)


def test_q7_o(kg, golden_oracle):
    assert _got(kg, o=ENT) == _exp(golden_oracle, o=ENT)


def test_q8_po(kg, golden_oracle):
    assert _got(kg, p=rules.P_TYPE, o=rules.C_ENTITY) == _exp(
        golden_oracle, p=rules.P_TYPE, o=rules.C_ENTITY)


def test_q9_subjects_with_po(kg, golden_oracle):
    got = sorted(r["s"] for r in query.subjects_with_po(kg, rules.P_TYPE, rules.C_ENTITY).collect())
    exp = sorted(t[0] for t in golden_oracle.pattern(None, rules.P_TYPE, rules.C_ENTITY))
    assert got == exp


def test_unknown_constant_short_circuits(kg):
    assert _got(kg, s="http://ex.org/no-such-term") == []
    assert _got(kg, p="http://ex.org/p/nope") == []
    assert _got(kg, o='"never-a-literal"') == []


@pytest.mark.parametrize("pid", range(1, 10))
def test_every_predicate_equals_filtered_scan(kg, golden_oracle, pid):
    """Exhaustive ?P? over every predicate ID (reference test pattern)."""
    p = golden_oracle.predicate_str(pid)
    assert _got(kg, p=p) == _exp(golden_oracle, p=p)


def test_sample_subjects_equal_filtered_scan(kg, golden_oracle):
    """S?? over a deterministic sample of subject IDs."""
    n_subj = golden_oracle.n_shared + len(golden_oracle.subjects)
    for sid in range(1, n_subj + 1, 97):
        s = golden_oracle.subject_str(sid)
        assert _got(kg, s=s) == _exp(golden_oracle, s=s)


def test_sample_objects_equal_filtered_scan(kg, golden_oracle):
    n_obj = golden_oracle.n_shared + len(golden_oracle.objects)
    for oid in range(1, n_obj + 1, 211):
        o = golden_oracle.object_str(oid)
        assert _got(kg, o=o) == _exp(golden_oracle, o=o)


def test_triple_ids_with_id_pattern(kg, golden_oracle):
    """ID-taking entry (reference src/hdt.rs:334-345): 0/None = wildcard."""
    from hdtspark import query as q

    # pick a real subject id via the dictionary
    row = kg.dict.subj_global.orderBy("id").first()
    sid = row["id"]
    by_id = sorted(map(tuple, q.triple_ids_with_id_pattern(kg, sid=sid).collect()))
    by_str = sorted(map(tuple, q.triple_ids_with_pattern(
        kg, row["term"], None, None).collect()))
    assert by_id == by_str and by_id
    # 0-sentinel behaves as wildcard, matching the reference
    assert q.triple_ids_with_id_pattern(kg, 0, 0, 0).count() == \
        len(golden_oracle.spo)


def test_unpersist_releases_every_stored_rdd(spark):
    """build -> materialize -> unpersist leaves the set of persistent RDDs
    as it was before the build: the localCheckpoint leaves are released
    too, which DataFrame.unpersist alone does not do."""
    from hdtspark import pipeline, synth

    t = spark.createDataFrame(synth.generate_rows(3, 5),
                              synth.TRANSCRIPTS_SCHEMA)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    kg = pipeline.build_kg(t)
    assert pipeline.materialize(kg) > 0
    assert query.triples_with_pattern(kg, p=rules.P_TYPE).count() > 0
    assert set(jsc.getPersistentRDDs().keySet()) - before
    kg.unpersist(blocking=True)
    # a subset, not equality: Spark's context cleaner may drop RDDs of
    # earlier tests' garbage-collected DataFrames meanwhile
    assert set(jsc.getPersistentRDDs().keySet()) <= before
