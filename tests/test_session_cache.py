"""load_tables plan-cache behavior: reuse, mtime invalidation, and the
round-13 size bound (VERDICT r12 item 5: the cache must not grow without
bound across regenerated files / many scale dirs in one driver)."""

import os

from facolos_data_pipelines_spark import session as sess


def _purge(app):
    for k in [k for k in sess._TABLE_CACHE if k[0] == app]:
        del sess._TABLE_CACHE[k]


def test_table_cache_reuses_and_invalidates_on_mtime(spark, tmp_path):
    src = sess.load_tables(spark, "/root/testdata/sf0.001", ["nation"])["nation"]
    p = str(tmp_path / "sfx")
    os.makedirs(p, exist_ok=True)
    src.write.mode("overwrite").parquet(f"{p}/nation.parquet")

    df1 = sess.load_tables(spark, p, ["nation"])["nation"]
    df2 = sess.load_tables(spark, p, ["nation"])["nation"]
    assert df1 is df2  # same plan object reused while the file is unchanged

    # rewrite the file: new mtime must miss the cache AND evict the
    # superseded entry (no accumulation across regenerations)
    app = spark.sparkContext.applicationId
    before_keys = [k for k in sess._TABLE_CACHE if k[0] == app and k[1] == p]
    src.limit(3).write.mode("overwrite").parquet(f"{p}/nation.parquet")
    os.utime(f"{p}/nation.parquet", (0, os.path.getmtime(f"{p}/nation.parquet") + 7))
    df3 = sess.load_tables(spark, p, ["nation"])["nation"]
    assert df3 is not df2
    assert df3.count() == 3
    after_keys = [k for k in sess._TABLE_CACHE if k[0] == app and k[1] == p]
    assert len(after_keys) == len(before_keys) == 1  # superseded entry evicted


def test_table_cache_global_cap(spark, tmp_path):
    app = spark.sparkContext.applicationId
    src = sess.load_tables(spark, "/root/testdata/sf0.001", ["region"])["region"]
    saved_max = sess._TABLE_CACHE_MAX
    try:
        sess._TABLE_CACHE_MAX = 8
        _purge(app)
        # distinct sf_dirs simulate a driver looping over many scale dirs
        for i in range(12):
            p = str(tmp_path / f"sf_{i}")
            os.makedirs(p, exist_ok=True)
            src.write.mode("overwrite").parquet(f"{p}/region.parquet")
            sess.load_tables(spark, p, ["region"])
            assert len(sess._TABLE_CACHE) <= 8
    finally:
        sess._TABLE_CACHE_MAX = saved_max
        _purge(app)


class _RecordingBuilder:
    """Stands in for ``SparkSession.builder``: records every conf and the
    master, and hands back a session whose only used method is a no-op."""

    def __init__(self):
        self.conf = {}

    def appName(self, _name):
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        class _Context:
            def setLogLevel(self, _level):
                pass

        class _Session:
            sparkContext = _Context()

        return _Session()


def _built_conf(monkeypatch, **env):
    for var in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE_PARTITIONS",
                "SPARK_MASTER", "SPARK_GRAFT_EXTRA_CONF"):
        monkeypatch.delenv(var, raising=False)
    for var, value in env.items():
        monkeypatch.setenv(var, value)
    builder = _RecordingBuilder()
    monkeypatch.setattr(sess.SparkSession, "builder", builder)
    sess.build_spark()
    return builder.conf


def test_build_spark_defaults_to_usable_cpus(monkeypatch):
    """Without SPARK_GRAFT_CPUS the session takes the CPUs this process
    may run on, for both task slots and shuffle partitions; the two
    variables still override, read when the session is built."""
    n = len(os.sched_getaffinity(0))
    conf = _built_conf(monkeypatch)
    assert conf["master"] == f"local[{n}]"
    assert conf["spark.sql.shuffle.partitions"] == str(n)

    conf = _built_conf(monkeypatch, SPARK_GRAFT_CPUS="3")
    assert conf["master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "3"

    conf = _built_conf(
        monkeypatch, SPARK_GRAFT_CPUS="3", SPARK_GRAFT_SHUFFLE_PARTITIONS="11"
    )
    assert conf["master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "11"
