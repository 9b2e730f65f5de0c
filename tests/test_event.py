"""Dotted-path helpers (MapStr analogue) tests."""

from pyspark.sql import functions as F

from beats_spark.event import (
    Fields,
    append_flag,
    get_path,
    has_path,
    with_path,
)
from beats_spark.processors import apply_chain, build_chain


def test_with_path_creates_nested(spark):
    df = spark.createDataFrame([(1,)], "id int")
    df = with_path(df, "a.b.c", F.lit("x"))
    assert df.collect()[0]["a"]["b"]["c"] == "x"
    # deepen an existing struct
    df = with_path(df, "a.b.d", F.lit(7))
    row = df.collect()[0]
    assert row["a"]["b"]["c"] == "x" and row["a"]["b"]["d"] == 7
    # overwrite a leaf
    df = with_path(df, "a.b.c", F.lit("y"))
    assert df.collect()[0]["a"]["b"]["c"] == "y"


def test_has_get_path(spark):
    df = spark.createDataFrame([(1,)], "id int")
    df = with_path(df, "s.x", F.lit(5))
    assert has_path(df.schema, "s.x") and not has_path(df.schema, "s.y")
    assert df.select(get_path(df, "s.x").alias("v")).collect()[0]["v"] == 5
    assert df.select(get_path(df, "nope").alias("v")).collect()[0]["v"] is None


def test_drop_and_rename(spark):
    df = spark.createDataFrame([(1,)], "id int")
    df = with_path(df, "s.x", F.lit(5))
    df = with_path(df, "s.y", F.lit(6))
    df = Fields(df).drop("s.x").apply()
    assert not has_path(df.schema, "s.x") and has_path(df.schema, "s.y")
    f = Fields(df)
    f.set("t.z", f.get("s.y")).drop("s.y")
    df = f.apply()
    assert not has_path(df.schema, "s") and df.collect()[0]["t"]["z"] == 6


def test_drop_last_field_removes_root(spark):
    df = with_path(spark.createDataFrame([(1,)], "id int"), "s.only", F.lit(1))
    df = Fields(df).drop("s.only").apply()
    assert "s" not in df.columns


def test_add_tags_and_flags(spark):
    df = spark.createDataFrame([(1,)], "id int")
    df = apply_chain(df, build_chain([{"add_tags": {"tags": ["t1", "t2"]}},
                                      {"add_tags": {"tags": ["t3"]}}]))
    assert df.collect()[0]["tags"] == ["t1", "t2", "t3"]
    f = Fields(df)
    append_flag(f, "truncated", cond=F.col("id") == 1)
    df = f.apply()
    assert df.collect()[0]["log"]["flags"] == ["truncated"]
    f2 = Fields(df)
    append_flag(f2, "x", cond=F.col("id") == 99)
    assert f2.apply().collect()[0]["log"]["flags"] == ["truncated"]


def test_with_path_untouched_rows_keep_null_parent(spark):
    """A conditional write (when(cond, v).otherwise(old NULL)) must not
    flip untouched rows from parent=NULL to an all-null struct — MapStr.Put
    only creates intermediates for events the processor actually ran on."""
    df = spark.createDataFrame([(1, "hit"), (2, "miss")], "id int, k string")
    df = with_path(df, "p.x", F.when(F.col("k") == "never", F.lit("v")))
    assert df.collect()[0]["p"] is None  # no row matched: parent stays NULL
    df2 = spark.createDataFrame(
        [(1, "hit", None), (2, "miss", None)],
        "id int, k string, p struct<x:string>")
    df2 = with_path(df2, "p.y",
                    F.when(F.col("k") == "hit", F.lit("v"))
                    .otherwise(get_path(df2, "p.y")))
    rows = {r["id"]: r["p"] for r in df2.collect()}
    assert rows[1]["y"] == "v"
    assert rows[2] is None


def test_with_path_survives_user_column_named_like_staging(spark):
    """A user column that collides with the internal staging name must
    survive a with_path call untouched."""
    df = spark.createDataFrame(
        [("keep", "m")], "__with_path_value__ string, message string")
    out = with_path(df, "a.b", F.lit("x"))
    row = out.collect()[0]
    assert row["__with_path_value__"] == "keep"
    assert row["a"]["b"] == "x"
    # case variant: Spark resolution is case-insensitive by default, so the
    # guard must compare names case-insensitively too
    df2 = spark.createDataFrame(
        [("keep", "m")], "__WITH_PATH_VALUE__ string, message string")
    row2 = with_path(df2, "a.b", F.lit("x")).collect()[0]
    assert row2["__WITH_PATH_VALUE__"] == "keep"
    assert row2["a"]["b"] == "x"


# ---------------------------------------------------------------------------
# multi-path write sets (one Fields.apply for many paths)

def with_paths(df, updates):
    f = Fields(df)
    for path, value in updates.items():
        f.set(path, value)
    return f.apply()


def test_with_paths_matches_sequential_with_path(spark):
    """Non-overlapping nested + flat updates: one write set is row-equal to
    the sequential with_path loop."""
    df = spark.createDataFrame(
        [("u1", 7, ("old",)), ("u2", None, None)],
        "id string, n int, p struct<keep:string>")
    ups = {
        "flat": F.upper(F.col("id")),
        "p.a": F.col("n").cast("string"),
        "p.b.c": F.when(F.col("n").isNotNull(), F.lit("x")),
        "q.z": F.col("n") * 2,
    }
    got = with_paths(df, dict(ups)).orderBy("id").collect()
    want = df
    for path, v in ups.items():
        want = with_path(want, path, v)
    want = want.orderBy("id").collect()
    assert [r.asDict(True) for r in got] == [r.asDict(True) for r in want]
    # pre-existing foreign struct field survives
    assert got[0]["p"]["keep"] == "old"


def test_with_paths_all_null_root_stays_null(spark):
    df = spark.createDataFrame([(1,)], "n int")
    out = with_paths(df, {"r.a": F.lit(None).cast("string"),
                          "r.b": F.lit(None).cast("string"),
                          "s": F.lit("x")}).collect()[0]
    assert out["r"] is None       # every written value NULL → root NULL
    assert out["s"] == "x"


def test_with_paths_prefix_overlap_falls_back_sequential(spark):
    """A root written both wholly and per-field is order-dependent — the
    write set must give the exact sequential result."""
    df = spark.createDataFrame([(1,)], "n int")
    out = with_paths(df, {
        "r": F.struct(F.lit("a").alias("a"), F.lit("b").alias("b")),
        "r.a": F.lit("A"),
    }).collect()[0]
    assert out["r"].asDict() == {"a": "A", "b": "b"}


def test_with_paths_temp_collision_with_target_and_column(spark):
    """Targets or existing columns named like the internal __tN temps
    must neither be dropped nor clobbered."""
    df = spark.createDataFrame([("keep", 1)], "__t0 string, n int")
    out = with_paths(df, {"a.b": F.lit("x"),
                          "c": F.lit("y")}).collect()[0]
    assert out["__t0"] == "keep"
    assert out["a"]["b"] == "x" and out["c"] == "y"
    # a target literally named __t0 is written, not dropped
    df2 = spark.createDataFrame([(1,)], "n int")
    out2 = with_paths(df2, {"__t0": F.lit("v"),
                            "x.y": F.lit("w")}).collect()[0]
    assert out2["__t0"] == "v"
    assert out2["x"]["y"] == "w"


def test_root_named_like_a_temp_does_not_read_it(spark):
    """A path whose root is named like a temp column staged before it (a
    grok capture named ``__t0``) reads as missing, not as the temp: rows a
    ``where`` skips stay NULL, and the temp is still left out."""
    df = spark.createDataFrame([(1,), (2,)], "n int")
    f = Fields(df)
    flag, = f.temps([F.col("n") == 1])
    assert not f.has("__t0")
    f.set("__t0", F.lit("v"), where=flag)
    out = f.apply().orderBy("n").collect()
    assert [r["__t0"] for r in out] == ["v", None]
    assert out[0].asDict().keys() == {"n", "__t0"}


def test_copy_fields_chained_pairs_read_own_writes(spark):
    """filebeat copies pairs sequentially per event: a later pair reading
    an earlier pair's target gets the NEW value (chained driver-side since
    with_paths values resolve against the input frame)."""
    from beats_spark.processors import apply_chain, build_chain

    df = spark.createDataFrame([("v", "stale")], "a string, b string")
    out = apply_chain(df, build_chain([
        {"copy_fields": {"fields": [{"from": "a", "to": "b"},
                                    {"from": "b", "to": "c"}],
                         "fail_on_error": False}},
    ])).collect()[0]
    assert out["b"] == "v"
    assert out["c"] == "v"  # reads the copied b, not the stale one


def _chain(df, cfg):
    from beats_spark.processors import apply_chain, build_chain

    return apply_chain(df, build_chain(cfg)).collect()[0]


AB_RULES = [{"from": "a", "to": "b"}, {"from": "b", "to": "c"}]


def _ab(spark):
    return spark.createDataFrame([("a%2520b", "stale", "go")],
                                 "a string, b string, k string")


def test_urldecode_chained_rules_read_own_writes(spark):
    """A later rule reads the earlier rule's target: b is decoded once by
    the first rule and again by the second, as the reference's sequential
    Put/GetValue gives (a stale b would leave c == "stale")."""
    out = _chain(_ab(spark), [{"urldecode": {"fields": AB_RULES}}])
    assert out["b"] == "a%20b" and out["c"] == "a b"


def test_urldecode_chained_rules_under_when(spark):
    """The same chain under ``when``: matching rows read their own writes,
    the others keep every old value."""
    df = _ab(spark)
    out = _chain(df, [{"urldecode": {"fields": AB_RULES,
                                     "when": {"equals": {"k": "go"}}}}])
    assert out["b"] == "a%20b" and out["c"] == "a b"
    out = _chain(df, [{"urldecode": {"fields": AB_RULES,
                                     "when": {"equals": {"k": "no"}}}}])
    assert out["b"] == "stale" and out["c"] is None


def test_urldecode_same_field_twice_decodes_twice(spark):
    df = spark.createDataFrame([("a%2520b",)], "a string")
    out = _chain(df, [{"urldecode": {"fields": [{"from": "a", "to": "a"},
                                                {"from": "a", "to": "a"}]}}])
    assert out["a"] == "a b"


def test_replace_two_rules_on_one_field_both_apply(spark):
    df = spark.createDataFrame([("xx",)], "v string")
    out = _chain(df, [{"replace": {"fields": [
        {"field": "v", "pattern": "x", "replacement": "y"},
        {"field": "v", "pattern": "y", "replacement": "z"}]}}])
    assert out["v"] == "zz"
