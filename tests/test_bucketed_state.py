"""The bucketed-state shuffle-elision proof (SCALE.md §6g's keystone
claim, made a plan assertion): when the incremental-dedup band state is
written bucketed on the probe join's keys, the per-cycle candidate join
shuffles ONLY the batch side — the state table, the side that grows
with the corpus, is scan-only with no Exchange anywhere between its
FileScan and the join. This is the Spark twin of the reference's
physical indexes on staging join keys
(sql/staging/create_misa_crm_tables.sql:304-311): pay the layout cost
once at write time, never again per probe.

Mechanics under test: a v1 bucketed table's scan reports
``HashPartitioning(bucket_cols, num_buckets)``, which satisfies the
join's required distribution only when the bucket columns equal the
join keys in join order — hence the store contract pins the layout to
``("band_id", "band_hash")`` for the minhash state and
``("band", "sig")`` for the embedding state. EnsureRequirements then
shuffles the OTHER side into the table's bucket count (visible below:
``Exchange hashpartitioning(..., num_buckets)`` with num_buckets !=
spark.sql.shuffle.partitions, proving the exchange adapted to the
bucketed side rather than the session default)."""

import re

import pytest
from pyspark.sql import functions as F

from facolos_data_pipelines_spark.eager import plan_only_mode
from facolos_data_pipelines_spark.operators.dedup import (
    embedding_band_state,
    embedding_delta_pairs,
    minhash_band_state,
    minhash_delta_pairs,
)
from facolos_data_pipelines_spark.sources.io import write_bucketed

_MARKER = re.compile(r"[+:]-")
# shuffle nodes in both pre-execution and AQE-final plan spellings
_SHUFFLES = ("Exchange", "ShuffleQueryStage", "AQEShuffleRead")


def _node_depth(line: str) -> int:
    m = _MARKER.search(line)
    return m.start() if m else (-1 if not line.strip() else 0)


def _ancestors(lines: list[str], i: int) -> list[str]:
    """Tree ancestors of line i in a physical-plan toString, walking
    the indentation structure (closest-preceding lines of strictly
    smaller marker depth)."""
    d = _node_depth(lines[i])
    out = []
    for j in range(i - 1, -1, -1):
        dj = _node_depth(lines[j])
        if 0 <= dj < d:
            out.append(lines[j])
            d = dj
            if d == 0:
                break
    return out


def _assert_state_side_never_shuffles(
    plan: str, key_frag: str, num_buckets: int, shuffle_partitions: int
) -> None:
    """Every scan of the bucketed state table in ``plan`` must be a
    bucketed read whose path up to its join contains Sort/Project/
    Filter only — no shuffle node — while the join's other side
    shuffles into the table's bucket count."""
    lines = plan.splitlines()
    scan_idx = [i for i, l in enumerate(lines) if "SelectedBucketsCount" in l]
    assert scan_idx, f"no bucketed scan in plan:\n{plan}"
    for i in scan_idx:
        assert "Bucketed: true" in lines[i], lines[i]
        walked = []
        for anc in _ancestors(lines, i):
            if "Join" in anc:
                # the first join above the scan is the band-keyed
                # candidate join itself
                assert key_frag in anc, anc
                break
            walked.append(anc)
        else:
            pytest.fail(f"no join above the state scan:\n{plan}")
        bad = [a for a in walked if any(s in a for s in _SHUFFLES)]
        assert not bad, (
            "state side of the probe join has shuffle nodes:\n"
            + "\n".join(bad)
        )
    # the batch side DOES shuffle — into the state's bucket count, not
    # the session's shuffle-partition default
    assert num_buckets != shuffle_partitions  # the proof needs them apart
    assert re.search(
        rf"Exchange hashpartitioning\({key_frag}[^\n]*, {num_buckets}\)", plan
    ), f"batch side not shuffled into the bucket count:\n{plan}"


@pytest.fixture()
def no_broadcast(spark):
    """Force the large-large join path: at toy size AQE would broadcast
    the state and bypass the bucketed layout this test is about."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def _docs(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 20 == 1),
    )


def test_minhash_bucketed_state_elides_state_side_shuffle(
    spark, sf_dir, tmp_path, no_broadcast
):
    corpus, batch = _docs(spark, sf_dir)
    nb = 4
    write_bucketed(
        minhash_band_state(corpus), "t_mh_band_state",
        ["band_id", "band_hash"], num_buckets=nb,
        sort_cols=["band_id", "band_hash"], path=str(tmp_path / "mh_state"),
    )
    try:
        state = spark.table("t_mh_band_state")
        with plan_only_mode():
            probe = minhash_delta_pairs(batch, state, corpus)
        sp = int(spark.conf.get("spark.sql.shuffle.partitions"))
        plan = probe._jdf.queryExecution().executedPlan().toString()
        _assert_state_side_never_shuffles(plan, "band_id", nb, sp)
        # and in the FINAL (post-AQE) plan, after actually running it
        rows = probe.collect()
        final = probe._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final
        _assert_state_side_never_shuffles(final, "band_id", nb, sp)
        # layout must not change results: same pairs as plain-parquet state
        minhash_band_state(corpus).write.parquet(str(tmp_path / "mh_plain"))
        plain = spark.read.parquet(str(tmp_path / "mh_plain"))
        expected = sorted(
            (r["left_id"], r["right_id"])
            for r in minhash_delta_pairs(batch, plain, corpus).collect()
        )
        assert sorted((r["left_id"], r["right_id"]) for r in rows) == expected
        assert expected, "fixture must produce cross pairs"
    finally:
        spark.sql("DROP TABLE IF EXISTS t_mh_band_state")


def test_embedding_bucketed_state_elides_state_side_shuffle(
    spark, sf_dir, tmp_path, no_broadcast
):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    batch = emb.filter(F.col("vec_id") % 10 == 1)
    kw = dict(num_planes=6, num_bands=4, dim=64)
    nb = 4
    write_bucketed(
        embedding_band_state(corpus, **kw), "t_emb_band_state",
        ["band", "sig"], num_buckets=nb, sort_cols=["band", "sig"],
        path=str(tmp_path / "emb_state"),
    )
    try:
        state = spark.table("t_emb_band_state")
        sp = int(spark.conf.get("spark.sql.shuffle.partitions"))
        with plan_only_mode():
            probe = embedding_delta_pairs(
                batch, state, corpus, threshold=0.9, **kw
            )
            plan = probe._jdf.queryExecution().executedPlan().toString()
        _assert_state_side_never_shuffles(plan, "band", nb, sp)
        # results unchanged vs a plain-parquet state (real materialize)
        got = sorted(
            (r["left_id"], r["right_id"])
            for r in embedding_delta_pairs(
                batch, state, corpus, threshold=0.9, **kw
            ).collect()
        )
        embedding_band_state(corpus, **kw).write.parquet(
            str(tmp_path / "emb_plain")
        )
        plain = spark.read.parquet(str(tmp_path / "emb_plain"))
        expected = sorted(
            (r["left_id"], r["right_id"])
            for r in embedding_delta_pairs(
                batch, plain, corpus, threshold=0.9, **kw
            ).collect()
        )
        assert got == expected
    finally:
        spark.sql("DROP TABLE IF EXISTS t_emb_band_state")
