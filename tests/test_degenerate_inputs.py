"""Empty-input totality: every registered query must run — and agree
with its DuckDB oracle — on a fixture whose tables all have ZERO rows.

Empty inputs are not an edge case at scale: a fresh partition, a
filtered-out increment, a day with no events, or a table early in its
backfill all present exactly this shape. The r8 sweep that introduced
this gate found 16 operators (empty) plus 5 more (single-row) that either crashed (unguarded driver-side
scalar collects, ANSI divide-by-zero, schema inference over an empty
partitioned write, an empty centroid literal typing as array<void>) or
silently diverged from ANSI semantics (Spark's ROLLUP/GROUPING SETS
emit zero rows on empty input where SQL requires the ()-set row).
"""

from __future__ import annotations

import os

import duckdb
import pytest

from tests.parity import run_query_pair

from cpt_database_sync_spark.plans.registry import all_specs
from tests.tiers import tier_keeps
from cpt_database_sync_spark.sources.tables import ALL_TABLES


@pytest.fixture(scope="module")
def empty_sf_dir(sf_dir):
    """Zero-row copies of every fixture table, schemas preserved exactly
    (including the events timestamp physical encoding — empty_table
    keeps the arrow schema, so the nanos/micros loader dispatch still
    exercises the same path)."""
    import pyarrow.parquet as pq

    from cpt_database_sync_spark.sources.sync import scratch_dir

    out = os.path.join(scratch_dir(), "sf_empty")
    os.makedirs(out, exist_ok=True)
    for t in ALL_TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        dst = os.path.join(out, f"{t}.parquet")
        if not os.path.exists(dst):
            pq.write_table(pq.read_table(src).schema.empty_table(), dst)
    return out


def test_every_query_total_on_empty_tables(spark, empty_sf_dir):
    """Full-registry differential sweep on the empty fixture: no
    exceptions, and every result matches the oracle's ANSI answer
    (global aggregates yield their one row, everything else is empty)."""
    con = duckdb.connect()
    for t in ALL_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{empty_sf_dir}/{t}.parquet'"
        )
    failures = []
    for name, spec in sorted(all_specs().items()):
        if not tier_keeps(name):  # tiering: see tests/tiers.py
            continue
        try:
            problems, _ = run_query_pair(
                spark, con, spec.fn, spec.oracle, empty_sf_dir
            )
            if problems:
                failures.append(f"{name}: {problems[0]}")
        except Exception as e:  # noqa: BLE001
            failures.append(f"{name}: EXCEPTION {type(e).__name__}: {e}")
    assert not failures, "\n".join(failures)


@pytest.fixture(scope="module")
def one_row_sf_dir(sf_dir):
    """Single-row copies of every fixture table. A different edge class
    than empty: groups of exactly one row (sample variance, correlation
    and regression denominators all hit zero), self-joins with one
    candidate, histograms with one point. Referential integrity across
    tables is deliberately NOT preserved — joins just go empty, which
    both engines agree on."""
    import pyarrow.parquet as pq

    from cpt_database_sync_spark.sources.sync import scratch_dir

    out = os.path.join(scratch_dir(), "sf_one")
    os.makedirs(out, exist_ok=True)
    for t in ALL_TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        dst = os.path.join(out, f"{t}.parquet")
        if not os.path.exists(dst):
            pq.write_table(pq.read_table(src).slice(0, 1), dst)
    return out


def _golden_keyed(spec) -> bool:
    """Golden-fixture oracles are keyed by the committed corpus
    fingerprint; on any OTHER corpus their oracle side is legitimately
    empty, so on degenerate fixtures they are checked run-only."""
    return spec.oracle is not None and "corpus_md5" in spec.oracle


def test_every_query_total_on_single_row_tables(spark, one_row_sf_dir):
    """Full-registry sweep on the 1-row fixture: no exceptions anywhere;
    value parity for every key except the fingerprint-keyed golden
    oracles (run-only there). The r8 sweep that introduced this gate
    found four ANSI divide-by-zero crashes in the closed-form moment
    family (sample variance / correlation / OLS slope of n=1 groups) and
    a DuckDB sqrt-of-epsilon-negative abort in corr_matrix's double
    lane."""
    con = duckdb.connect()
    for t in ALL_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{one_row_sf_dir}/{t}.parquet'"
        )
    failures = []
    for name, spec in sorted(all_specs().items()):
        if not tier_keeps(name):  # tiering: see tests/tiers.py
            continue
        try:
            if _golden_keyed(spec):
                spec.fn(spark, one_row_sf_dir).collect()
                continue
            problems, _ = run_query_pair(
                spark, con, spec.fn, spec.oracle, one_row_sf_dir
            )
            if problems:
                failures.append(f"{name}: {problems[0]}")
        except Exception as e:  # noqa: BLE001
            failures.append(f"{name}: EXCEPTION {type(e).__name__}: {e}")
    assert not failures, "\n".join(failures)


@pytest.fixture(scope="module")
def payload_nulls_sf_dir(sf_dir):
    """NULLs where a real lake has them: keys, event timestamps and
    order/ship dates stay intact (any pipeline enforces those NOT NULL);
    every payload column — measures, text, strings, embeddings — is
    NULLed on alternating rows. The r8 sweep over this fixture found 17
    crashes (null media payloads, null embeddings, Derby's null-VARCHAR
    binding, Python stateful accumulators) and a dozen semantic
    divergences (null group keys dropped by inner joins, engine-default
    null ordering in rank windows, concat vs || null propagation)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from cpt_database_sync_spark.sources.sync import scratch_dir

    structural = {
        "customer": {"c_custkey", "c_nationkey"},
        "documents": {"doc_id"},
        "embeddings": {"vec_id"},
        "events": {"event_id", "ts", "user_id"},
        "lineitem": {
            "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_shipdate"
        },
        "nation": {"n_nationkey", "n_regionkey"},
        "orders": {"o_orderkey", "o_custkey", "o_orderdate"},
        "part": {"p_partkey"},
        "region": {"r_regionkey"},
        "supplier": {"s_suppkey", "s_nationkey"},
    }
    out = os.path.join(scratch_dir(), "sf_pnulls")
    os.makedirs(out, exist_ok=True)
    for t in ALL_TABLES:
        dst = os.path.join(out, f"{t}.parquet")
        if os.path.exists(dst):
            continue
        tab = pq.read_table(os.path.join(sf_dir, f"{t}.parquet")).slice(0, 200)
        mask = pa.array([i % 2 == 0 for i in range(len(tab))])
        cols = []
        for field in tab.schema:
            col = tab.column(field.name)
            if field.name in structural[t]:
                cols.append(col)
            else:
                nulls = pa.nulls(len(tab), type=field.type)
                cols.append(pc.if_else(mask, nulls, col.combine_chunks()))
        pq.write_table(pa.table(cols, schema=tab.schema), dst)
    return out


def test_every_query_total_on_null_payloads(spark, payload_nulls_sf_dir):
    """Full-registry differential sweep on the payload-nulls fixture:
    no exceptions anywhere; value parity everywhere except the
    fingerprint-keyed golden oracles (run-only, as in the 1-row test)."""
    con = duckdb.connect()
    for t in ALL_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" '{payload_nulls_sf_dir}/{t}.parquet'"
        )
    failures = []
    for name, spec in sorted(all_specs().items()):
        if not tier_keeps(name):  # tiering: see tests/tiers.py
            continue
        try:
            if _golden_keyed(spec):
                spec.fn(spark, payload_nulls_sf_dir).collect()
                continue
            problems, _ = run_query_pair(
                spark, con, spec.fn, spec.oracle, payload_nulls_sf_dir
            )
            if problems:
                failures.append(f"{name}: {problems[0]}")
        except Exception as e:  # noqa: BLE001
            failures.append(f"{name}: EXCEPTION {type(e).__name__}: {e}")
    assert not failures, "\n".join(failures)


@pytest.fixture(scope="module")
def unicode_sf_dir(sf_dir):
    """Multi-script document text: CJK, emoji, RTL Arabic, Cyrillic,
    Greek, combining marks (NFD sequences), zero-width characters, tabs
    and newlines. The r8 sweep over this fixture caught Java-vs-RE2
    `\\b` divergence on decomposed Unicode (an 'a' + combining-diaeresis
    sequence is a word boundary to one engine and not the other), which
    silently skewed every stopword-marker count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cpt_database_sync_spark.sources.sync import scratch_dir

    samples = [
        "café naïve déjà-vu über straße çalışma",
        "深度学习 模型 训练 数据 清洗 去重 质量 评估 语料",
        "🚀 emoji corpus 🌍 with 🎯 symbols 💡 and ✨ sparkle ✅",
        "مرحبا بالعالم هذا نص عربي للاختبار مع كلمات",
        "éléphant combining marks äöü test",
        "Ωμέγα ελληνικά κείμενο δοκιμής für mixed Ünïcödé",
        "русский текст для проверки кодировки и длины строк",
        "tab\tand\nnewline  multiple   spaces  zero​width",
    ]
    out = os.path.join(scratch_dir(), "sf_unicode")
    os.makedirs(out, exist_ok=True)
    for t in ALL_TABLES:
        dst = os.path.join(out, f"{t}.parquet")
        if os.path.exists(dst):
            continue
        tab = pq.read_table(os.path.join(sf_dir, f"{t}.parquet")).slice(0, 200)
        if t == "documents":
            n = len(tab)
            texts = [
                samples[i % len(samples)]
                + f" doc {i} "
                + samples[(i * 3 + 1) % len(samples)]
                for i in range(n)
            ]
            cols = []
            for field in tab.schema:
                if field.name == "text":
                    cols.append(pa.array(texts, type=field.type))
                elif field.name == "n_chars":
                    cols.append(pa.array([len(x) for x in texts], type=field.type))
                else:
                    cols.append(tab.column(field.name))
            tab = pa.table(cols, schema=tab.schema)
        pq.write_table(tab, dst)
    return out


def test_every_query_total_on_unicode_text(spark, unicode_sf_dir):
    """Full-registry differential sweep with multi-script text: value
    parity everywhere except the fingerprint-keyed golden oracles
    (run-only off their committed corpus)."""
    con = duckdb.connect()
    for t in ALL_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{unicode_sf_dir}/{t}.parquet'"
        )
    failures = []
    for name, spec in sorted(all_specs().items()):
        if not tier_keeps(name):  # tiering: see tests/tiers.py
            continue
        try:
            if _golden_keyed(spec):
                spec.fn(spark, unicode_sf_dir).collect()
                continue
            problems, _ = run_query_pair(
                spark, con, spec.fn, spec.oracle, unicode_sf_dir
            )
            if problems:
                failures.append(f"{name}: {problems[0]}")
        except Exception as e:  # noqa: BLE001
            failures.append(f"{name}: EXCEPTION {type(e).__name__}: {e}")
    assert not failures, "\n".join(failures)


@pytest.fixture(scope="module")
def edge_shapes_sf_dir(sf_dir):
    """Targeted edge SHAPES for the r11 additions (VERDICT r11 next #8
    — the registry-wide empty/1-row/nulls/unicode sweeps above cover
    totality; these pin the keys' OWN degenerate geometries):

    - documents: a single-word doc (vocab of 1 — zipf_fit's rank
      variance hits 0), an all-hapax doc, a zero-hapax doc (every word
      repeats), NULL and empty text (octet_length 0 -> the 1x1-PIXEL
      synthesized PNG for multimodal_image_histogram), and a doc whose
      text is exactly 64 bytes (n%64 == 0 and (3n)%48 == 0 -> the
      OTHER 1x1-pixel shape, via a non-trivial byte length);
    - orders: o_orderpriority overwritten to ONE class — t-closeness
      with single-class partitions (every group distribution equals
      the global singleton distribution, EMD 0) and class_rebalance's
      no-op path exercised via embeddings below;
    - embeddings: every label identical (majority class == every
      class: rebalance must replicate nothing).
    Other tables copy through unchanged."""
    import duckdb as ddb

    from cpt_database_sync_spark.sources.sync import scratch_dir

    out = os.path.join(scratch_dir(), "sf_edge_shapes")
    os.makedirs(out, exist_ok=True)
    done = os.path.join(out, ".done")
    if os.path.exists(done):
        return out
    con = ddb.connect()
    for t in ALL_TABLES:
        src = f"{sf_dir}/{t}.parquet"
        dst = f"{out}/{t}.parquet"
        if t == "documents":
            con.execute(
                f"""COPY (
                  SELECT * FROM (VALUES
                    (CAST(1 AS BIGINT), 'solitary', 'en', 'edge',
                     CAST(8 AS BIGINT)),
                    (CAST(2 AS BIGINT), 'all words here are hapax',
                     'en', 'edge', CAST(24 AS BIGINT)),
                    (CAST(3 AS BIGINT), 'rep rep rep twin twin',
                     'en', 'edge', CAST(21 AS BIGINT)),
                    (CAST(4 AS BIGINT), CAST(NULL AS VARCHAR), 'en',
                     'edge', CAST(NULL AS BIGINT)),
                    (CAST(5 AS BIGINT), '', 'en', 'edge',
                     CAST(0 AS BIGINT)),
                    (CAST(6 AS BIGINT), repeat('y', 64), 'en', 'edge',
                     CAST(64 AS BIGINT))
                  ) t(doc_id, text, lang, source, n_chars)
                ) TO '{dst}' (FORMAT PARQUET)"""
            )
        elif t == "orders":
            con.execute(
                f"""COPY (
                  SELECT * REPLACE ('1-URGENT' AS o_orderpriority)
                  FROM read_parquet('{src}')
                ) TO '{dst}' (FORMAT PARQUET)"""
            )
        elif t == "embeddings":
            con.execute(
                f"""COPY (
                  SELECT * REPLACE (0 AS label) FROM read_parquet('{src}')
                ) TO '{dst}' (FORMAT PARQUET)"""
            )
        else:
            con.execute(
                f"COPY (SELECT * FROM read_parquet('{src}')) "
                f"TO '{dst}' (FORMAT PARQUET)"
            )
    con.close()
    open(done, "w").close()
    return out


EDGE_SHAPE_KEYS = [
    "class_rebalance",
    "hapax_ratio",
    "multimodal_image_histogram",
    "t_closeness_check",
    "zipf_fit",
]


def test_r11_keys_on_their_edge_shapes(spark, edge_shapes_sf_dir):
    """Differential parity for the five r11 keys on their own edge
    geometries, plus the semantic facts the shapes exist to pin."""
    con = duckdb.connect()
    for t in ALL_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS "
            f"SELECT * FROM '{edge_shapes_sf_dir}/{t}.parquet'"
        )
    specs = all_specs()
    failures = []
    for name in EDGE_SHAPE_KEYS:
        spec = specs[name]
        try:
            problems, _ = run_query_pair(
                spark, con, spec.fn, spec.oracle, edge_shapes_sf_dir
            )
            if problems:
                failures.append(f"{name}: {problems[0]}")
        except Exception as e:  # noqa: BLE001
            failures.append(f"{name}: EXCEPTION {type(e).__name__}: {e}")
    assert not failures, "\n".join(failures)

    # 1x1-pixel images: the zero-length and 64-byte docs must each emit
    # exactly ONE histogram row with n_px = 1.
    hist = {
        r["doc_id"]: (r["bucket"], r["n_px"])
        for r in specs["multimodal_image_histogram"]
        .fn(spark, edge_shapes_sf_dir)
        .collect()
        if r["doc_id"] in (5, 6)
    }
    assert set(hist) == {5, 6}, f"1x1 images missing: {hist}"
    assert all(npx == 1 for _, npx in hist.values()), hist

    # single-class embeddings: rebalance replicates nothing.
    reb = specs["class_rebalance"].fn(spark, edge_shapes_sf_dir)
    n_in = spark.read.parquet(
        f"{edge_shapes_sf_dir}/embeddings.parquet"
    ).count()
    assert reb.count() == n_in, "single-class rebalance must be a no-op"


def test_big_lanes_on_degenerate_fixtures(
    spark, monkeypatch, empty_sf_dir, one_row_sf_dir, payload_nulls_sf_dir
):
    """Forced BIG lanes on the empty, 1-row and null-payload fixtures:
    the default-lane sweeps above never reach the scale lanes —
    the footer probe sees tiny counts — yet at 100 TB an empty
    PARTITION of a huge table presents exactly this shape to the big
    plan, and NULL groups/measures are where rollup+equi-join lanes
    silently drop rows the window lanes keep. Every ceiling-dispatched
    key (the stepup BIG_LANE_OVERRIDES set, forced past its ceiling)
    must run and agree with its oracle on all three shapes: no
    empty-chunk prefix assumptions, no 0-row broadcast literal typing,
    no n−1/0 in the closed forms, no NULL-key join drops."""
    from cpt_database_sync_spark.operators import lanes, llm_text
    from tests.stepup import BIG_LANE_OVERRIDES

    failures = []
    for dirpath in (empty_sf_dir, one_row_sf_dir, payload_nulls_sf_dir):
        con = duckdb.connect()
        for t in ALL_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{dirpath}/{t}.parquet'"
            )
        specs = all_specs()
        for name, lane in sorted(BIG_LANE_OVERRIDES.items()):
            spec = specs[name]
            if spec.oracle is None or _golden_keyed(spec):
                continue
            try:
                with monkeypatch.context() as m:
                    # -1, not 0: the empty fixture's footer count is 0
                    m.setitem(lanes.CEILINGS, lane, -1)
                    # several position chunks even on these fixtures
                    m.setattr(llm_text, "VOCAB_DOC_CHUNK", 7)
                    problems, _ = run_query_pair(
                        spark, con, spec.fn, spec.oracle, dirpath, name=name
                    )
                if problems:
                    failures.append(
                        f"{name}@{os.path.basename(dirpath)}: {problems[0]}"
                    )
            except Exception as e:  # noqa: BLE001
                failures.append(
                    f"{name}@{os.path.basename(dirpath)}: EXCEPTION "
                    f"{type(e).__name__}: {e}"
                )
        con.close()
    assert not failures, "\n".join(failures)
