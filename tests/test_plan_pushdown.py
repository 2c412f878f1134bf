"""Scan-level plan audit: column pruning and filter pushdown must reach the
parquet scan. At 100 TB the difference between scanning [n_chars] and
scanning [doc_id, text, ...] is the whole game — a projection that drags
the text column through a stats query reads terabytes for nothing. These
tests parse the FileScan nodes of representative driver queries and pin
the scanned column set / pushed predicates structurally."""

import re

import pytest

from presto_workload_analyzer_spark import driver_queries

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _full_dataflow_plans(monkeypatch):
    """Plan pins must audit the FULL dataflow down to the parquet scans.

    The engine materializes multiply-consumed frames (materialize.py —
    lazy localCheckpoint), which truncates consumer plans at RDD-scan
    leaves and would hide the very FileScan nodes these tests pin. The
    kill-switch disables materialization for frames built inside the
    test; the shared-silver cache is cleared so silvers built (and
    checkpointed) by other suites in the same session don't leak
    truncated plans in.
    """
    monkeypatch.setenv("PWA_NO_MATERIALIZE", "1")
    driver_queries._ADAPTER_CACHE.clear()
    yield
    driver_queries._ADAPTER_CACHE.clear()

_SCAN_RE = re.compile(r"FileScan parquet \[([^\]]*)\][^\n]*?Location:[^\n]*?/(\w+)\.parquet")


def _scans(spark, name):
    """[(table, {column, ...}, scan_line)] for every parquet scan in the plan."""
    df = driver_queries.queries()[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    out = []
    for line in plan.splitlines():
        m = _SCAN_RE.search(line)
        if not m:
            continue
        cols = {c.split("#")[0] for c in m.group(1).split(",") if c.strip()}
        out.append((m.group(2), cols, line))
    return out


def test_x31_prunes_text_column(spark):
    # the quartile profile needs ONE numeric column; dragging `text`
    # (the dominant bytes of the table) through the scan would be the
    # difference between kilobytes and the whole corpus at 100 TB
    for table, cols, line in _scans(spark, "x31_length_quartiles"):
        assert table == "documents"
        assert cols == {"n_chars"}, line


def test_p04_scans_only_quasi_columns(spark):
    # the groupBy+join k_anonymize shape scans events twice: the row side
    # needs all three columns, the group-size side prunes down to just the
    # quasi-identifiers — every scan must stay within the three and never
    # drag an unrelated column
    scans = _scans(spark, "p04_k_anonymity")
    assert scans, "expected parquet scans in the plan"
    for table, cols, line in scans:
        assert table == "events"
        assert {"user_id", "event_type"} <= cols <= {
            "event_id", "user_id", "event_type"
        }, line
    # ...and the group-size side's pruning must actually happen: at least
    # one scan reads ONLY the quasi-identifiers (a regression that drags
    # event_id into both scans would otherwise pass the range check above)
    assert any(
        cols == {"user_id", "event_type"} for _, cols, _ in scans
    ), [c for _, c, _ in scans]


def test_x06_pushes_id_filter_to_scan(spark):
    scans = _scans(spark, "x06_embedding_near_dups")
    assert scans, "expected parquet scans in the plan"
    for table, cols, line in scans:
        assert table == "embeddings"
        assert cols <= {"vec_id", "embedding"}
        # the vec_id < 150 cap must reach the scan, not sit in a Filter above it
        assert "vec_id" in line.split("DataFilters:", 1)[1].split("]", 1)[0], line


def test_x07_text_stats_scans_minimal_columns(spark):
    for table, cols, line in _scans(spark, "x07_text_stats"):
        assert table == "documents"
        assert cols == {"doc_id", "text"}, line


def test_a01_adapter_scan_prunes_unused_event_columns(spark):
    # the queries-corpus adapter derives everything it needs from 4 event
    # columns; props (the JSON blob) must never reach this scan
    for table, cols, line in _scans(spark, "a01_scheduled_by_date"):
        if table != "events":
            continue
        assert "props" not in cols, line


@pytest.mark.parametrize(
    "name,table,banned",
    [
        ("x16_hash_split", "documents", {"embedding"}),
        ("x30_label_centroids", "embeddings", set()),  # needs label+embedding only
    ],
)
def test_no_foreign_columns(spark, name, table, banned):
    for t, cols, line in _scans(spark, name):
        if t == table:
            assert not (cols & banned), line


def test_x41_asof_scans_minimal_event_columns(spark):
    """The as-of join needs 4 of events' 6 columns on the left and 4 on the
    right; neither scan may drag `props` (the dominant string column)."""
    scans = _scans(spark, "x41_asof_join")
    assert scans
    for table, cols, line in scans:
        assert table == "events"
        assert "props" not in cols, line
        # the event_type predicate must reach the scan
        assert "event_type" in line.split("PushedFilters:", 1)[-1], line


def test_x43_quality_logit_prunes_to_id_and_text(spark):
    for table, cols, line in _scans(spark, "x43_quality_logit"):
        assert table == "documents"
        assert cols == {"doc_id", "text"}, line


def test_a36_concurrency_scans_only_sweep_inputs(spark):
    """The sweep needs the timestamp + the elapsed/value column (and the
    FAILED filter's event_type); the JSON props blob must stay unread."""
    for table, cols, line in _scans(spark, "a36_concurrency_profile"):
        assert table == "events"
        assert "props" not in cols, line


def test_x46_referential_audit_scans_only_key_columns(spark):
    """Every FK-audit scan must read ONLY the key column(s) involved —
    reading lineitem's payload columns for an orphan count would scan the
    fact table's full width at 100 TB."""
    wide = {"l_comment", "o_comment", "p_name", "text", "props"}
    for table, cols, line in _scans(spark, "x46_referential_audit"):
        assert not (cols & wide), line
        assert len(cols) <= 2, line


@pytest.mark.parametrize(
    "name,allowed",
    [
        ("xs6_unimax_mix", {"source", "text"}),
        ("xs7_heldout_perplexity", {"doc_id", "source", "text"}),
        ("xs10_gopher_rules", {"doc_id", "text"}),
        ("xs11_gopher_repetition", {"doc_id", "text"}),
        ("xs12_perplexity_filter", {"doc_id", "text"}),
        ("xs13_dsir_resample", {"doc_id", "source", "text"}),
    ],
)
def test_round11_registrations_prune_document_scans(spark, name, allowed):
    """The round-11 batch must never drag `lang` or `n_chars` through a
    documents scan — at 100 TB an unpruned column on the corpus-sized
    table is terabytes of wasted IO. Audited at registration (every scan
    read exactly its needed subset); pinned here so a refactor that
    widens a projection fails structurally."""
    scans = _scans(spark, name)
    assert scans, f"{name}: expected parquet scans in the plan"
    for table, cols, line in scans:
        if table != "documents":
            continue
        assert cols <= allowed, (name, sorted(cols), line)


@pytest.mark.parametrize(
    "name,allowed",
    [
        ("xs14_c4_line_filters", {"doc_id", "text"}),
        ("xs15_ccnet_line_dedup", {"doc_id", "text"}),
        ("xs16_bm25_scores", {"doc_id", "text"}),
        ("xs17_bfd_packing", {"source", "doc_id", "text"}),
        ("xs18_curation_mix_chain", {"doc_id", "source", "text"}),
        ("xs19_dup_weighted_sampling", {"doc_id", "text"}),
    ],
)
def test_round12_registrations_prune_document_scans(spark, name, allowed):
    """The round-12 batch (registered this round) must never drag `lang`
    or `n_chars` through a documents scan — same contract as the
    round-11 pin. (s19/s20 are streaming drains; their batch twins xs15
    and xs18 cover the scan shapes.)"""
    scans = _scans(spark, name)
    assert scans, f"{name}: expected parquet scans in the plan"
    for table, cols, line in scans:
        if table != "documents":
            continue
        assert cols <= allowed, (name, sorted(cols), line)


@pytest.mark.parametrize(
    "name,allowed",
    [
        ("xs20_dup_spans", {"doc_id", "text"}),
        ("xs21_quality_ensemble", {"doc_id", "text"}),
        ("xs22_fineweb_funnel", {"doc_id", "source", "lang", "text"}),
        ("xs23_exactsubstr_removal", {"doc_id", "text"}),
        ("xs24_rho_delta_select", {"doc_id", "source", "text"}),
        ("xs25_decontaminate", {"doc_id", "text"}),
        ("xs26_delta_source_weights", {"doc_id", "source", "text"}),
        ("xs27_curation_v2_chain", {"doc_id", "source", "text"}),
    ],
)
def test_round13_registrations_prune_document_scans(spark, name, allowed):
    """The round-13 batch (registered this round): only xs22 (the
    language-gated funnel) may read `lang`; nothing reads `n_chars`;
    the span/ensemble/delta queries read only what their math needs."""
    scans = _scans(spark, name)
    assert scans, f"{name}: expected parquet scans in the plan"
    for table, cols, line in scans:
        if table != "documents":
            continue
        assert cols <= allowed, (name, sorted(cols), line)


_ROUND14_SCAN_PINS = {
    "xs28_ccnet_ppl_buckets": {
        "documents": {"doc_id", "lang", "text"},
    },
    "xs29_d4_prototypes": {
        "embeddings": {"vec_id", "embedding"},
    },
    "xs30_quality_calibration": {
        "documents": {"doc_id", "text"},
    },
    "xs31_cluster_purity": {
        "embeddings": {"vec_id", "label", "embedding"},
    },
    "xs32_kcenter_coreset": {
        "embeddings": {"vec_id", "embedding"},
    },
    "xs33_source_unigram_kl": {
        "documents": {"source", "text"},
    },
    "xs34_mmr_rerank": {
        "embeddings": {"vec_id", "embedding"},
    },
    # s21 is a streaming drain; its batch twin xs25 pins the scan
}


@pytest.mark.parametrize("name", sorted(_ROUND14_SCAN_PINS))
def test_round14_registrations_prune_scans(spark, name):
    """The round-14 batch (registered this round): pruned scans on BOTH
    fact tables — documents readers never drag `text` where only ids are
    needed (and never read n_chars at all); embeddings readers take only
    the columns their math touches (xs31 alone may read `label`).
    Subset-only assertions: the embedding-cluster silver may already be
    cached in-session, in which case its parquet scan does not reappear
    in the plan. xs32/xs34 return driver-materialized frames (their
    iterative passes scan inside the function — kcenter_coreset selects
    exactly (id, vec) by construction), so their rows here only guard
    against a future refactor reintroducing a plan-visible scan."""
    tables = _ROUND14_SCAN_PINS[name]
    df = driver_queries.queries()[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        m = _SCAN_RE.search(line)
        if not m or m.group(2) not in tables:
            continue
        cols = {c.split("#")[0] for c in m.group(1).split(",") if c.strip()}
        assert cols <= tables[m.group(2)], (name, sorted(cols), line)


@pytest.mark.parametrize(
    "name,allowed",
    [
        ("xs35_contrastive_pairs", {"doc_id", "text"}),
        ("xs36_kneser_ney_filter", {"doc_id", "text"}),
    ],
)
def test_round15_registrations_prune_document_scans(spark, name, allowed):
    """The round-15 batch (registered this round): xs36 reads only
    (doc_id, text); xs35 consumes the dedup-CC silver whose own
    (doc_id, text) scan is pinned by the xs20-batch test (and may
    already be cached in-session, so subset-only); s22 is a streaming
    drain (xs33, its batch twin, pins the (source, text) scan)."""
    for table, cols, line in _scans(spark, name):
        if table != "documents":
            continue
        assert cols <= allowed, (name, sorted(cols), line)
