"""Golden end-to-end round-trip: encode → decode → bit-identity + size gate.

Engine-scale version of the reference's round-trip fixtures
(`test/orc/read_test.clj:16-101`): deterministic table in, exact per-row
token-array equality out, plus the ≤-reference-ORC-size gate and
chunk-boundary cases (rows vs chunk-budget combinations mirroring the
reference's bat-size 4/5 × rows 0/5/10 matrix).
"""

import os

import pytest

from clj_orc_spark.datagen import gen_table, write_token_table
from clj_orc_spark.pipeline import decode, encode, size_gate, verify_roundtrip


def test_roundtrip_bit_identical(spark, token_table_dir, tmp_dir):
    out = os.path.join(tmp_dir, "enc")
    report = encode(spark, os.path.join(token_table_dir, "tokens.parquet"), out,
                    n_partitions=4)
    assert report["pending"] >= 1

    source = spark.read.parquet(os.path.join(token_table_dir, "tokens.parquet"))
    decoded = decode(spark, out)
    v = verify_roundtrip(source, decoded)
    assert v["bit_identical"], v
    assert v["total"] == 5_000


def test_size_gate_vs_reference_orc(spark, token_table_dir, tmp_dir):
    out = os.path.join(tmp_dir, "enc")
    encode(spark, os.path.join(token_table_dir, "tokens.parquet"), out,
           n_partitions=4)
    orc_bytes = os.path.getsize(os.path.join(token_table_dir, "tokens.orc"))
    gate = size_gate(spark, out, orc_bytes)
    assert gate["under_bar"], gate
    # we target a comfortable margin, not a squeaker
    assert gate["ratio"] < 0.85, gate


@pytest.mark.parametrize("n_rows,chunk_bytes", [
    (1, 1 << 20),        # single row
    (7, 256),            # budget smaller than one row → chunk per row
    (100, 64 << 10),     # several chunks, partial last
    (100, 1 << 30),      # single chunk
])
def test_chunk_boundaries(spark, tmp_dir, n_rows, chunk_bytes):
    src_dir = os.path.join(tmp_dir, "src")
    write_token_table(src_dir, n_rows, seed=7, with_orc_reference=False)
    out = os.path.join(tmp_dir, "enc")
    encode(spark, os.path.join(src_dir, "tokens.parquet"), out,
           n_partitions=2, chunk_bytes=chunk_bytes)
    source = spark.read.parquet(os.path.join(src_dir, "tokens.parquet"))
    v = verify_roundtrip(source, decode(spark, out))
    assert v["bit_identical"] and v["total"] == n_rows, v


def test_manifest_scan_prunes_payload(spark, token_table_dir, tmp_dir):
    """Manifest reads must not drag encoded payloads through the scan —
    column pruning reaches the parquet reader (plan-level assertion)."""
    from clj_orc_spark.plans import assert_columns_pruned

    out = os.path.join(tmp_dir, "enc")
    encode(spark, os.path.join(token_table_dir, "tokens.parquet"), out,
           n_partitions=2)
    m = spark.read.parquet(os.path.join(out, "chunks")).select(
        "chunk_id", "col", "codec", "enc_bytes"
    )
    assert_columns_pruned(m, ["chunk_id", "enc_bytes"], ["payload", "meta"])


def test_empty_table(spark, tmp_dir):
    import pyarrow.parquet as pq

    src = os.path.join(tmp_dir, "empty.parquet")
    pq.write_table(gen_table(0), src)
    out = os.path.join(tmp_dir, "enc")
    encode(spark, src, out, n_partitions=2)
    assert decode(spark, out).count() == 0


def test_decode_part_ids_prune(spark, token_table_dir, tmp_dir):
    """part_ids decodes exactly the requested partitions: each part is a
    strict subset and the parts together are the full decode."""
    out = os.path.join(tmp_dir, "enc")
    encode(spark, os.path.join(token_table_dir, "tokens.parquet"), out,
           n_partitions=4)
    full = decode(spark, out)
    parts = [decode(spark, out, part_ids=[p]) for p in range(4)]
    assert all(0 < p.count() < full.count() for p in parts)
    union = parts[0].unionAll(parts[1]).unionAll(parts[2]).unionAll(parts[3])
    assert union.exceptAll(full).count() == 0
    assert full.exceptAll(union).count() == 0


def test_report_and_decode_reject_the_same_predicates(spark, token_table_dir,
                                                     tmp_dir):
    """decode_plan_report compiles predicates exactly as decode(): a
    predicate one rejects, the other rejects with the same error type —
    never a chunk count for a read that cannot run."""
    from clj_orc_spark.pipeline import decode_plan_report

    out = os.path.join(tmp_dir, "enc")
    encode(spark, os.path.join(token_table_dir, "tokens.parquet"), out,
           n_partitions=2)
    for pred, err in (
        ({"isin": {"tokens": [5]}}, ValueError),
        ({"ranges": {"n_tok": ("5", None)}}, TypeError),
        ({"ranges": {"n_tok": (None, None)}}, ValueError),
    ):
        with pytest.raises(err) as from_decode:
            decode(spark, out, **pred)
        with pytest.raises(err) as from_report:
            decode_plan_report(spark, out, **pred)
        assert type(from_decode.value) is type(from_report.value), pred
        assert str(from_decode.value) == str(from_report.value), pred


def test_manifest_records_selections(spark, token_table_dir, tmp_dir):
    out = os.path.join(tmp_dir, "enc")
    encode(spark, os.path.join(token_table_dir, "tokens.parquet"), out,
           n_partitions=2)
    manifest = spark.read.parquet(os.path.join(out, "manifest", "chunks"))
    assert "payload" not in manifest.columns
    cols = {r["col"] for r in manifest.select("col").distinct().collect()}
    assert cols == {"doc_id", "source", "n_tok", "token_values", "offsets"}
    # every chunk row carries codec + auditable selection estimates
    row = manifest.first()
    import json

    sel = json.loads(row["selection"])
    assert sel["codec"] == row["codec"] and "estimates" in sel


def test_decode_column_pruning(spark, token_table_dir, tmp_dir):
    """decode(columns=...) returns exactly the requested projection, equal
    to projecting the full decode — the engine-format analog of parquet
    column pruning (token payloads never decoded)."""
    out = os.path.join(tmp_dir, "enc")
    src = os.path.join(token_table_dir, "tokens.parquet")
    encode(spark, src, out, n_partitions=4)

    full = decode(spark, out).select("doc_id", "n_tok")
    pruned = decode(spark, out, columns=["doc_id", "n_tok"])
    assert pruned.columns == ["doc_id", "n_tok"]
    assert pruned.exceptAll(full).count() == 0
    assert full.exceptAll(pruned).count() == 0

    # tokens-only projection still reassembles the list column correctly
    toks = decode(spark, out, columns=["tokens"])
    assert toks.columns == ["tokens"]
    src_sum = spark.read.parquet(src).selectExpr(
        "sum(aggregate(tokens, 0L, (a, x) -> a + x)) AS s").collect()[0]["s"]
    dec_sum = toks.selectExpr(
        "sum(aggregate(tokens, 0L, (a, x) -> a + x)) AS s").collect()[0]["s"]
    assert src_sum == dec_sum

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown columns"):
        decode(spark, out, columns=["nope"])


def test_digest_detects_single_flipped_token(spark, token_table_dir, tmp_dir):
    """A single corrupted token value — with its chunk CRC updated so payload
    integrity checks can't catch it — must flip the set digest."""
    import glob
    import zlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from clj_orc_spark.pipeline import verify_digest

    src = os.path.join(token_table_dir, "tokens.parquet")
    out = os.path.join(tmp_dir, "enc")
    encode(spark, src, out, n_partitions=4)
    source = spark.read.parquet(src)

    v = verify_digest(source, decode(spark, out))
    assert v["bit_identical"] and v["total"] == 5_000, v

    f = sorted(glob.glob(os.path.join(out, "chunks", "part_id=*", "*.parquet")))[0]
    t = pq.read_table(f)
    i = t.column("col").to_pylist().index("token_values")
    pl = t.column("payload").to_pylist()
    crcs = t.column("crc").to_pylist()
    pl[i] = pl[i][:-1] + bytes([pl[i][-1] ^ 3])
    crcs[i] = zlib.crc32(pl[i])
    t = t.set_column(t.schema.get_field_index("payload"), "payload",
                     pa.array(pl, pa.binary()))
    t = t.set_column(t.schema.get_field_index("crc"), "crc",
                     pa.array(crcs, pa.int64()))
    pq.write_table(t, f)
    assert not verify_digest(source, decode(spark, out))["bit_identical"]


def test_zone_map_pruned_decode(spark, token_table_dir, tmp_dir):
    """Per-chunk min/max stats (ORC column-statistics analog) prune decode
    I/O: a selective doc_id range must read strictly fewer chunks, and the
    result must equal the full decode filtered exactly."""
    import json

    from pyspark.sql import functions as F

    from clj_orc_spark.pipeline import decode_plan_report

    # zone maps prune CLUSTERED data — encode a doc_id-sorted copy (the
    # shape a real ingest sorted/bucketed by key produces)
    raw = os.path.join(token_table_dir, "tokens.parquet")
    src = os.path.join(tmp_dir, "sorted.parquet")
    import pyarrow.parquet as pq

    t = pq.read_table(raw)
    pq.write_table(
        t.sort_by("doc_id"), src, row_group_size=1250
    )
    out = os.path.join(tmp_dir, "enc")
    encode(spark, src, out, n_partitions=4)

    m = spark.read.parquet(os.path.join(out, "manifest", "chunks"))
    assert "stats" in m.columns
    one = json.loads(m.where(m.col == "doc_id").first()["stats"])
    assert one["min"] <= one["max"]
    n_chunks = m.select("chunk_id").distinct().count()

    ids = sorted(r["doc_id"] for r in
                 spark.read.parquet(src).select("doc_id").collect())
    lo, hi = ids[0], ids[len(ids) // 10]  # first ~10% of the id space

    rep = decode_plan_report(spark, out, ranges={"doc_id": (lo, hi)})
    assert rep["chunks_total"] == n_chunks
    assert 0 < rep["chunks_kept"] < n_chunks, (rep, n_chunks)

    expect = (
        decode(spark, out)
        .where((F.col("doc_id") >= lo) & (F.col("doc_id") <= hi))
    )
    got = decode(spark, out, ranges={"doc_id": (lo, hi)})
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0
    assert got.count() == len(ids) // 10 + 1

    # n_tok predicate: exact even when zone maps cannot prune (random n_tok
    # spans every chunk)
    nt = decode(spark, out, ranges={"n_tok": (None, 50)})
    base = decode(spark, out).where(F.col("n_tok") <= 50)
    assert nt.count() == base.count()

    # range on a pruned-out column is a plan-time error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="'doc_id' requires it in columns"):
        decode(spark, out, columns=["n_tok"], ranges={"doc_id": (lo, hi)})
