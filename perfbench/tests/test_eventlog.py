"""Stage-to-phase mapping on a checked-in event log of a 400-turn
positional build, one append and one compact (local[4])."""

import os

from perfbench import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data",
                   "build_append_compact.eventlog")


def test_build_stages_map_to_phases():
    groups = eventlog.parse(LOG)
    assert {"build", "append.0", "compact"} <= set(groups)
    phase = {r["stage"]: r["phase"] for r in groups["build"]}
    assert phase[3] == "conv_dim"      # zipWithIndex job before its write
    assert phase[10] == "conv_dim"     # conv_dim parquet write
    assert phase[21] == "docs"         # docs write
    assert phase[28] == "tokenize"     # postings map side: shuffle write
    assert phase[30] == "encode_write"  # postings reduce side
    assert phase[35] == "other"        # stats write
    assert set(phase.values()) == {"conv_dim", "docs", "tokenize",
                                   "encode_write", "other"}


def test_summary_sums_tasks_and_gaps():
    rows = eventlog.parse(LOG)["build"]
    s = eventlog.summarize(rows, wall_s=12.0)
    assert s["tokenize_s"] > 0 and s["encode_write_s"] > 0
    assert s["shuffle_write_bytes"] > 0 and s["shuffle_read_bytes"] > 0
    assert s["cpu_s"] > 0
    covered = eventlog._union_s(rows)
    assert abs(s["driver_gap_s"] - (12.0 - covered)) < 1e-9
    assert s["conv_dim_s"] + s["docs_s"] + s["tokenize_s"] \
        + s["encode_write_s"] <= covered + 1e-9


def test_target_phase_reads_the_write_node():
    plan = ("(3) Execute InsertIntoHadoopFsRelationCommand\n"
            "Input: []\nArguments: file:/x/idx/postings/segment=0, false\n"
            "Location: InMemoryFileIndex [file:/x/idx/docs/segment=0]")
    assert eventlog.target_phase(plan) == "postings"
    assert eventlog.target_phase("Exchange hashpartitioning") == "conv_dim"
    assert eventlog.target_phase("Location [file:/x/idx/docs]") == "docs"
