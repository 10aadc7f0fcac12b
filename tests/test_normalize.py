from pyspark.sql import functions as F

from dbt_customer360_spark.functions import normalize as N


def _one(spark, value, *cols):
    df = spark.createDataFrame([(value,)], ["x"])
    return df.select(*cols).first()


def _sql(*exprs):
    """The ``*_sql`` CASE chains, evaluated by Spark."""
    return [F.expr(e) for e in exprs]


def test_name_titles_strip(spark):
    no_title, title = _sql(*N.name_titles_sql("x"))
    r = _one(spark, "Dr John Smith", no_title.alias("n"), title.alias("t"))
    assert r.n == "John Smith" and r.t == "Dr"
    # title must be followed by >= 2 words (name_titles.sql:120)
    r = _one(spark, "Dr John", no_title.alias("n"), title.alias("t"))
    assert r.n == "Dr John" and r.t is None
    # dotted variant; NOTE first-match-wins in list order (reference CASE
    # semantics): 'Prof' precedes 'Prof. Dr', so it wins here
    r = _one(spark, "Prof. Dr Jane Doe", no_title.alias("n"), title.alias("t"))
    assert r.t == "Prof" and r.n == "Dr Jane Doe"
    r = _one(spark, "Alice Wong", no_title.alias("n"), title.alias("t"))
    assert r.n == "Alice Wong" and r.t is None


def test_name_suffixes_strip(spark):
    no_suffix, suffix = _sql(*N.name_suffixes_sql("x"))
    r = _one(spark, "Bob Jones Jr", no_suffix.alias("n"), suffix.alias("s"))
    assert r.n == "Bob Jones" and r.s == "Jr"
    r = _one(spark, "Bob Jones", no_suffix.alias("n"), suffix.alias("s"))
    assert r.n == "Bob Jones" and r.s is None


def test_org_suffixes_strip(spark):
    no_suffix, suffix = _sql(*N.org_suffixes_sql("x"))
    r = _one(spark, "Acme Inc", no_suffix.alias("n"), suffix.alias("s"))
    assert r.n == "Acme" and r.s == "Inc"
    # context order is the reference's: ' suf' is checked before ', suf',
    # so the space-context strip wins and leaves the comma
    r = _one(spark, "Acme, Llc", no_suffix.alias("n"), suffix.alias("s"))
    assert r.n == "Acme," and r.s == "Llc"
    r = _one(spark, "Plain Name", no_suffix.alias("n"), suffix.alias("s"))
    assert r.n == "Plain Name" and r.s is None


def test_street_suffixes_expand(spark):
    (col,) = _sql(N.street_suffixes_sql("x"))
    assert _one(spark, "100 Main St", col.alias("v")).v == "100 Main Street"
    assert _one(spark, "100 Main Street", col.alias("v")).v == "100 Main Street"
    # collapsed-map quirk: 'Str' is NOT an effective trigger (last-wins 'St')
    assert _one(spark, "100 Main Str", col.alias("v")).v == "100 Main Str"


def test_split_address_lines(spark):
    l1, l2 = _sql(*N.split_address_lines_sql("x"))
    r = _one(spark, "12 Oak Ave, Apt 5", l1.alias("a"), l2.alias("b"))
    assert r.a == "12 Oak Ave" and r.b == "Apt 5"
    r = _one(spark, "12 Oak Ave Suite 7", l1.alias("a"), l2.alias("b"))
    assert r.a == "12 Oak Ave " and r.b == "Suite 7"
    r = _one(spark, "12 Oak Ave", l1.alias("a"), l2.alias("b"))
    assert r.a == "12 Oak Ave" and r.b is None


def test_empty_to_null_and_sentinel(spark):
    df = spark.createDataFrame([("",), ("a",), (None,)], ["x"])
    vals = [r.v for r in df.select(N.empty_to_null("x").alias("v")).collect()]
    assert vals == [None, "a", None]
    vals = [r.v for r in df.select(N.null_sentinel("x", "marketo").alias("v")).collect()]
    assert vals == ["", "a", "null_marketo"]
    vals = [
        r.v
        for r in df.select(
            N.sentinel_decode(N.null_sentinel("x", "m"), "m").alias("v")
        ).collect()
    ]
    assert vals == ["", "a", None]


def test_levenshtein_similarity(spark):
    df = spark.createDataFrame([("john smith", "jon smith")], ["a", "b"])
    sim = df.select(N.levenshtein_similarity("a", "b").alias("s")).first().s
    assert abs(sim - 0.9) < 1e-9


def test_surrogate_key_null_convention(spark):
    df = spark.createDataFrame([(1, None)], "a int, b string")
    k = df.select(N.surrogate_key("a", "b").alias("k")).first().k
    import hashlib

    expected = hashlib.md5(b"1-_dbt_utils_surrogate_key_null_").hexdigest()
    assert k == expected
