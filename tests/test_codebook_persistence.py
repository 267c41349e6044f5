"""Persisted PQ codebooks across sessions: the train-once/serve-many
story claims a training job fits the quantizer once, persists a
few-KiB ``(s, cid, centroid, cb_meta)`` artifact, and any later
serving session reads it back WITHOUT retraining. These tests prove
the round trip — a codebook written by a genuinely FRESH Spark session
(separate JVM, via subprocess) reconstructs bit-identically to the
in-memory artifact — and pin the geometry contract (version + m +
ksub + dim stamped per row; mismatched declarations fail loudly,
never mis-slice a served vector)."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest
from pyspark.sql import functions as F

from hrtech_etl_spark.functions.similarity import (
    pq_codebook,
    read_codebook_table,
    write_codebook_table,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: tiny deterministic embedding fixture shared with the writer
#: subprocess: vec_id 0..31, dim 16 — component (i*31 + j) % 17 / 16
_EMB_SQL = (
    "SELECT id AS vec_id, transform(sequence(0, 15), "
    "j -> CAST((id * 31 + j) % 17 AS DOUBLE) / 16) AS embedding "
    "FROM range(32)"
)
_GEOM = dict(m=4, ksub=8, dim=16)


def _emb(spark):
    return spark.sql(_EMB_SQL)


def _cb_value(cb_df):
    return cb_df.collect()[0]["__cb"]


def test_cross_session_roundtrip(spark, tmp_path):
    """A SEPARATE JVM trains (seed-vector codebook — deterministic),
    encodes, and persists BOTH serving artifacts; this session reads
    them back and must (a) hold the bit-identical ``__cb`` artifact
    the in-memory path builds and (b) serve the exact ADC answer from
    the stored codes — the full train-once/encode-once/serve-many
    claim across a real process boundary, where the serving session
    runs neither the trainer nor the encoder."""
    out = str(tmp_path / "cb")
    codes_out = str(tmp_path / "codes")
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from hrtech_etl_spark.core.session import get_spark
        from hrtech_etl_spark.functions.similarity import (
            pq_codebook, pq_encode, write_code_table,
            write_codebook_table,
        )
        spark = get_spark(app_name="cb-writer", shuffle_partitions=4)
        emb = spark.sql({_EMB_SQL!r})
        cb = pq_codebook(emb, m=4, ksub=8, dim=16)
        write_codebook_table(cb, {out!r})
        enc = pq_encode(emb, cb, m=4, ksub=8, dim=16).select(
            "vec_id", "__codes"
        )
        write_code_table(enc, {codes_out!r}, m=4, ksub=8, dim=16)
        spark.stop()
        """
    )
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    proc = subprocess.run(
        [sys.executable, "-c", script],
        env=env,
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]

    stored = read_codebook_table(spark, out, **_GEOM)
    local = pq_codebook(_emb(spark), **_GEOM)
    assert _cb_value(stored) == _cb_value(local)
    # serve from the OTHER session's stored codes: identical top-k to
    # the fully in-memory encode+ADC path
    from hrtech_etl_spark.functions.similarity import (
        pq_adc_topk,
        pq_encode,
        read_code_table,
    )

    emb = _emb(spark)
    q = emb.where("vec_id = 0")
    served = pq_adc_topk(
        read_code_table(spark, codes_out, **_GEOM), stored, q,
        k=5, m=_GEOM["m"], dim=_GEOM["dim"],
    ).collect()
    live = pq_adc_topk(
        pq_encode(emb, local, **_GEOM).select("vec_id", "__codes"),
        local, q, k=5, m=_GEOM["m"], dim=_GEOM["dim"],
    ).collect()
    assert [tuple(r) for r in served] == [tuple(r) for r in live]


def test_same_session_roundtrip_and_meta_guards(spark, tmp_path):
    """Write/read in one session, then every declared-geometry
    mismatch raises on the scan (tag guard) and a foreign parquet
    without cb_meta raises EAGERLY at the call."""
    out = str(tmp_path / "cb")
    cb = pq_codebook(_emb(spark), **_GEOM)
    write_codebook_table(cb, out)
    back = read_codebook_table(spark, out, **_GEOM)
    assert _cb_value(back) == _cb_value(cb)
    # the stored grid is auditable with plain SQL: full m x ksub set
    raw = spark.read.parquet(out)
    assert raw.count() == _GEOM["m"] * _GEOM["ksub"]
    assert raw.select("cb_meta").distinct().collect()[0][0] == (
        "cbv1:m4:k8:d16"
    )
    for bad in (dict(m=8, ksub=8, dim=16), dict(m=4, ksub=16, dim=16)):
        with pytest.raises(Exception, match="different geometry"):
            read_codebook_table(spark, out, **bad)
    # same tag-string geometry but declared dim inconsistent with m
    with pytest.raises(ValueError, match="% m"):
        read_codebook_table(spark, out, m=4, ksub=8, dim=15)
    # foreign parquet: no cb_meta -> eager ValueError
    plain = str(tmp_path / "plain")
    _emb(spark).write.parquet(plain)
    with pytest.raises(ValueError, match="cb_meta"):
        read_codebook_table(spark, plain)


def test_write_shape_asserts(spark, tmp_path):
    """The writer pins its input shape: multi-row frames, wrong
    columns, and ragged nesting are caller bugs, not things to
    persist."""
    emb = _emb(spark)
    with pytest.raises(ValueError, match="one-row"):
        write_codebook_table(emb, str(tmp_path / "x"))
    ragged = spark.createDataFrame(
        [([[[1.0, 2.0], [3.0]]],)], "`__cb` ARRAY<ARRAY<ARRAY<DOUBLE>>>"
    )
    with pytest.raises(ValueError, match="ragged"):
        write_codebook_table(ragged, str(tmp_path / "y"))
    empty = spark.createDataFrame(
        [([],)], "`__cb` ARRAY<ARRAY<ARRAY<DOUBLE>>>"
    )
    with pytest.raises(ValueError, match="empty codebook"):
        write_codebook_table(empty, str(tmp_path / "z"))
    # mode="error" refuses to clobber an existing table
    out = str(tmp_path / "cb")
    cb = pq_codebook(emb, **_GEOM)
    write_codebook_table(cb, out)
    with pytest.raises(Exception):
        write_codebook_table(cb, out)
    write_codebook_table(cb, out, mode="overwrite")  # explicit opt-in


def test_stored_grid_corruption_refused(spark, tmp_path):
    """A partially-written or hand-edited grid (missing cells, extra
    rows, wrong centroid width) is refused at read — a serving fleet
    must never decode under a broken codebook."""
    out = str(tmp_path / "cb")
    write_codebook_table(pq_codebook(_emb(spark), **_GEOM), out)
    holes = str(tmp_path / "holes")
    spark.read.parquet(out).where(
        ~((F.col("s") == 0) & (F.col("cid") == 0))
    ).write.parquet(holes)
    with pytest.raises(ValueError, match="grid"):
        read_codebook_table(spark, holes, **_GEOM)
    narrow = str(tmp_path / "narrow")
    spark.read.parquet(out).withColumn(
        "centroid", F.slice("centroid", 1, 2)
    ).write.parquet(narrow)
    with pytest.raises(ValueError, match="wide"):
        read_codebook_table(spark, narrow, **_GEOM)


def test_code_table_roundtrip_and_guards(spark, tmp_path):
    """The encoded-corpus half of the serving store: pq_encode output
    persists with the codebook's family tag and reads back shaped for
    pq_adc_topk; every geometry mismatch fails loudly."""
    from hrtech_etl_spark.functions.similarity import (
        pq_adc_topk,
        pq_encode,
        read_code_table,
        write_code_table,
    )

    emb = _emb(spark)
    cb = pq_codebook(emb, **_GEOM)
    enc = pq_encode(emb, cb, **_GEOM).select("vec_id", "__codes")
    out = str(tmp_path / "codes")
    write_code_table(enc, out, **_GEOM)
    back = read_code_table(spark, out, **_GEOM)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, enc.collect())
    )
    # served ADC over STORED codes == ADC over live encode
    q = emb.where("vec_id = 0")
    served = pq_adc_topk(
        back, cb, q, k=5, m=_GEOM["m"], dim=_GEOM["dim"]
    ).collect()
    live = pq_adc_topk(
        enc, cb, q, k=5, m=_GEOM["m"], dim=_GEOM["dim"]
    ).collect()
    assert [tuple(r) for r in served] == [tuple(r) for r in live]
    # geometry mismatch raises on the scan (tag guard)
    with pytest.raises(Exception, match="different codebook family"):
        read_code_table(spark, out, m=8, ksub=8, dim=16).collect()
    # foreign parquet: no cb_meta -> eager ValueError
    plain = str(tmp_path / "plain")
    enc.write.parquet(plain)
    with pytest.raises(ValueError, match="cb_meta"):
        read_code_table(spark, plain, **_GEOM)
    # write-side: wrong declared m raises BEFORE an overwrite lands
    with pytest.raises(Exception, match="geometry|declared m"):
        write_code_table(enc, out, m=2, ksub=8, dim=16, mode="overwrite")
    assert read_code_table(spark, out, **_GEOM).count() == 32
    # write-side: code value outside [0, ksub) refused
    bad = spark.createDataFrame(
        [(1, [0, 1, 99, 2])], "vec_id long, `__codes` array<int>"
    )
    with pytest.raises(Exception, match="geometry|ksub"):
        write_code_table(
            bad, str(tmp_path / "bad"), m=4, ksub=8, dim=16,
            mode="overwrite",
        )
    # write-side: a NULL element is NOT a valid code (it would decode
    # to a NULL ADC distance that sorts FIRST — silent top-1)
    nullelem = spark.createDataFrame(
        [(1, [0, None, 1, 2])], "vec_id long, `__codes` array<int>"
    )
    with pytest.raises(Exception, match="geometry|non-NULL"):
        write_code_table(
            nullelem, str(tmp_path / "nullelem"), m=4, ksub=8, dim=16,
            mode="overwrite",
        )
    with pytest.raises(Exception, match="geometry|non-NULL"):
        write_code_table(
            nullelem, str(tmp_path / "nullelem2"), m=4, ksub=8, dim=16,
        )
    # read-side: a tag-valid but hand-edited table (truncated codes)
    # is refused on the scan — same principle as the codebook reader
    corrupt = str(tmp_path / "corrupt")
    spark.read.parquet(out).withColumn(
        "__codes", F.slice("__codes", 1, 2)
    ).write.parquet(corrupt)
    with pytest.raises(Exception, match="corrupt|geometry"):
        read_code_table(spark, corrupt, **_GEOM).collect()


def test_stored_codes_scan_is_column_pruned(spark, tmp_path):
    """The compressed serving scan's whole point: an ADC query over
    the stored code table must read ONLY (vec_id, __codes, cb_meta)
    from parquet — never a raw vector column. Locked on the executed
    plan's ReadSchema."""
    from hrtech_etl_spark.functions.similarity import (
        pq_adc_topk,
        pq_encode,
        read_code_table,
        write_code_table,
    )

    from hrtech_etl_spark.functions.similarity import _cb_meta_tag

    emb = _emb(spark)
    cb = pq_codebook(emb, **_GEOM)
    enc = pq_encode(emb, cb, **_GEOM).select("vec_id", "__codes")
    # hand-write a FAT table: valid (vec_id, __codes, cb_meta) rows
    # PLUS the raw embedding column riding along — write_code_table
    # itself always projects the payload away, so only a hand-built
    # table can catch a reader that resurrects extra stored columns
    out = str(tmp_path / "codes_fat")
    enc.join(emb, "vec_id").withColumn(
        "cb_meta", F.lit(_cb_meta_tag(**_GEOM))
    ).write.parquet(out)
    served = pq_adc_topk(
        read_code_table(spark, out, **_GEOM), cb,
        emb.where("vec_id = 0"), k=5, m=_GEOM["m"], dim=_GEOM["dim"],
    )
    served.collect()
    plan = served._jdf.queryExecution().executedPlan().toString()
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)", plan)
    code_scans = [s for s in schemas if "__codes" in s]
    assert code_scans, plan
    for s in code_scans:
        assert "embedding" not in s, s


def test_serving_path_is_shuffle_free(spark, tmp_path):
    """The stored-artifact serve path's scale contract: codebook read
    (bounded collect) + ADC over stored codes + shortlist re-rank
    runs with ZERO hash exchanges and zero sort-merge joins — every
    join side is a broadcast (1-row query/codebook, k-row shortlist)
    and top-k is TakeOrderedAndProject, so a serving query never
    shuffles the corpus at any scale."""
    from hrtech_etl_spark.functions.similarity import (
        pq_encode,
        pq_rerank_topk,
        read_code_table,
        read_codebook_table,
        write_code_table,
        write_codebook_table,
    )

    emb = _emb(spark)
    cb = pq_codebook(emb, **_GEOM)
    write_codebook_table(cb, str(tmp_path / "cb"))
    write_code_table(
        pq_encode(emb, cb, **_GEOM).select("vec_id", "__codes"),
        str(tmp_path / "codes"),
        **_GEOM,
    )
    cb2 = read_codebook_table(spark, str(tmp_path / "cb"), **_GEOM)
    codes = read_code_table(spark, str(tmp_path / "codes"), **_GEOM)
    q = emb.where("vec_id = 0")
    topk = pq_rerank_topk(
        emb, codes, cb2, q, k=5, shortlist=10,
        m=_GEOM["m"], dim=_GEOM["dim"],
    )
    topk.collect()
    plan = topk._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
