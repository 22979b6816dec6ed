"""Plan shape of the in-Spark clip-synth queries (``_synth_clips``),
checked on the physical plan alone: no query is executed (only the
parquet footer read that building a query takes).

For each ``*_clips`` entry built on ``_synth_clips``:
1. ``documents.parquet`` is scanned exactly once;
2. the only Exchange below the Python stage is the round-robin repartition,
   and its input is ``doc_id`` alone;
3. no binary column crosses any Exchange.
"""

import os

import pytest

import __spark_entry__ as entry_mod

SF = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.01")

SYNTH_CLIPS = [
    "audio_bandwidth_clips", "audio_profile_clips", "transcript_vad_clips",
    "duration_check_clips", "audio_normalize_clips",
    "audio_normalize_sinc_clips", "audio_alignment_clips",
    "pitch_profile_clips", "flac_invariant_clips", "codec_metadata_clips",
    "resample_invariant_clips", "flac_transcode_clips", "opus_header_clips",
    "crest_check_clips",
]


def _nodes(node):
    """``node`` and every node below it (py4j SparkPlan objects)."""
    yield node
    it = node.children().iterator()
    while it.hasNext():
        yield from _nodes(it.next())


def _is_exchange(node) -> bool:
    return node.nodeName().endswith("Exchange")


def _output(node) -> list:
    """(name, type) of each output attribute of ``node``."""
    out, it = [], node.output().iterator()
    while it.hasNext():
        a = it.next()
        out.append((a.name(), a.dataType().typeName()))
    return out


def _physical_plan(spark, name):
    plan = entry_mod.queries()[name](spark, SF)._jdf.queryExecution().executedPlan()
    return plan.inputPlan() if plan.nodeName() == "AdaptiveSparkPlan" else plan


@pytest.mark.parametrize("name", SYNTH_CLIPS)
def test_synth_clips_plan_shape(spark, name):
    nodes = list(_nodes(_physical_plan(spark, name)))

    doc_scans = [
        n for n in nodes
        if n.nodeName().startswith("Scan") and "documents.parquet" in n.toString()
    ]
    assert len(doc_scans) == 1, f"{name}: documents scanned {len(doc_scans)} times"

    py_stages = [n for n in nodes if n.nodeName() == "MapInPandas"]
    assert len(py_stages) == 1, f"{name}: {len(py_stages)} MapInPandas stages"
    below = [n for n in _nodes(py_stages[0]) if _is_exchange(n)]
    assert len(below) == 1, f"{name}: {len(below)} Exchanges below the Python stage"
    assert "RoundRobinPartitioning" in below[0].toString(), below[0].toString()
    assert _output(below[0].child()) == [("doc_id", "long")]

    for ex in filter(_is_exchange, nodes):
        binary = [a for a, t in _output(ex.child()) if t == "binary"]
        assert not binary, f"{name}: binary {binary} crosses {ex.nodeName()}"
