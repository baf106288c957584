"""The benchmark's layer tracer patches engine entry points by name
(``perfbench/layertrace.py``). These tests fail when an engine refactor moves
a name the tracer patches, instead of a traced run silently losing a layer."""

from pyspark.sql import types as T

from embulk_input_marketo_spark import generator
from embulk_input_marketo_spark.lake import LakeTable
from perfbench import layertrace


def test_every_entry_point_resolves_on_its_owner():
    """The tracer reads and replaces ``owner.__dict__[attr]``: each patched
    name must be defined on the object it is looked up on at call time."""
    points = layertrace._entry_points()
    assert points
    for owner, attr, _ in points:
        assert callable(owner.__dict__.get(attr)), (owner, attr)


def test_traced_mor_replay_emits_stage_and_commit_spans(spark, tmp_path):
    import embulk_input_marketo_spark.lake.merge as merge
    import embulk_input_marketo_spark.replay as replay_mod

    log = generator.changelog(spark, 2_000, 200, seed=3)
    schema = T.StructType(
        [f for f in log.schema.fields
         if f.name not in ("lsn", "op", "schema_version")]
    )
    table = LakeTable.create(str(tmp_path / "t"), schema, key_col="url",
                             n_buckets=4)
    originals = {a: getattr(merge, a) for a in ("stage_merge", "commit_staged_merge")}

    tracer = layertrace.Tracer(spark, "test")
    tracer.install()
    try:
        report = replay_mod.replay(spark, log, table, n_slices=2)
    finally:
        tracer.close()

    assert len(report.batches) == 2 and all(b.applied for b in report.batches)
    names = [s.name for s in tracer.spans]
    assert names.count("replay") == 1
    assert names.count("lake.merge.stage") == 2
    assert names.count("lake.merge.commit") == 2
    assert all(s.error is None for s in tracer.spans)
    assert {a: getattr(merge, a) for a in originals} == originals  # restored
