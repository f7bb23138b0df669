package graft

import org.apache.spark.sql.SparkSessionExtensions

/** The custom expressions exposed at the SQL surface (E29 extension seam). */
class ExtensionsSpec extends SparkSpec {

  test("GraftExtensions applies cleanly to a fresh SparkSessionExtensions") {
    new GraftExtensions().apply(new SparkSessionExtensions) // must not throw
  }

  test("float_prefix_dots: per-bound parity with sliced float_dot, short arrays clamp") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val bounds = Seq(2, 4, 8)
    // deterministic pseudo-random floats (no Math.random: repeatability)
    val v = (1 to 8).map(i => (math.sin(i) * 10).toFloat)
    val w = (1 to 8).map(i => (math.cos(i) * 10).toFloat)
    val df = Seq((v, w)).toDF("a", "b")
    val pre = df.select(graft.functions.VectorExprs
      .floatPrefixDots(col("a"), col("b"), bounds)).head().getSeq[Double](0)
    val sliced = bounds.map { m =>
      df.select(graft.functions.VectorExprs.floatDot(
        slice(col("a"), 1, m), slice(col("b"), 1, m))).head().getDouble(0)
    }
    assert(pre == sliced) // bit-identical, not approximate
    // arrays shorter than a bound: prefix clamps to the full-array dot
    val short = Seq((v.take(3), w.take(3))).toDF("a", "b")
    val preS = short.select(graft.functions.VectorExprs
      .floatPrefixDots(col("a"), col("b"), bounds)).head().getSeq[Double](0)
    val full3 = short.select(graft.functions.VectorExprs
      .floatDot(col("a"), col("b"))).head().getDouble(0)
    assert(preS(0) == sliced(0) && preS(1) == full3 && preS(2) == full3)
  }

  test("text_stats: one-pass counters match the three regex forms exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val texts = Seq(
      "Hello, world! This is fine... right?! Yes.",
      "", " ", "  double  spaces  ", "no punct here",
      "ünïcode résumé — naïve café!!! done?",   // multi-byte UTF-8
      "a.b.c", "...", "?!?!", "tab\tand\nnewline mix.")
    val df = texts.toDF("text")
    val got = df.select(graft.functions.VectorExprs.textStats(col("text")).as("st"))
      .select(col("st.ch"), col("st.w"), col("st.sn")).collect()
    val want = df.select(
      length(regexp_replace(col("text"), "[^A-Za-z0-9]", "")).cast("long"),
      size(split(col("text"), " ")).cast("long"),
      size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))).cast("long")).collect()
    assert(got.map(_.toSeq).toSeq == want.map(_.toSeq).toSeq)
  }

  test("pinCorpus disk mode: same rows, lineage kept, reaped by Engine") {
    import org.apache.spark.sql.functions._
    val base = spark.range(1000).select(col("id"), (col("id") % 7).as("k"))
    val expected = base.groupBy(col("k")).count().collect().sortBy(_.getLong(0))
    spark.conf.set("spark.graft.pin.storage", "disk")
    try {
      val pinned = Tables.pinCorpus(base)
      assert(pinned.storageLevel.useDisk && !pinned.storageLevel.useMemory)
      assert(!pinned.rdd.isCheckpointed) // lineage survives (fault tolerance)
      val got = pinned.groupBy(col("k")).count().collect().sortBy(_.getLong(0))
      assert(got.toSeq == expected.toSeq)
      assert(Engine.reapLocalCheckpoints(spark) >= 1) // registry drained
      assert(pinned.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    } finally spark.conf.unset("spark.graft.pin.storage")
  }

  /** Registers GraftExtensions' SQL functions on the shared session: the
    * same builders `withExtensions(new GraftExtensions)` injects. */
  private def registerGraftFunctions(): Unit = {
    val reg = spark.sessionState.functionRegistry
    GraftExtensions.functions.foreach { case (id, info, build) =>
      reg.registerFunction(id, info, build)
    }
  }

  test("float_dot / simhash64 / minhash_sigs callable from spark.sql") {
    registerGraftFunctions()
    val dot = spark.sql(
      "SELECT float_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d")
      .head().getDouble(0)
    assert(dot == 11.0)
    val sh = spark.sql("SELECT simhash64(array(CAST(5 AS BIGINT))) AS s").head().getLong(0)
    assert(sh == 5L) // single hash: simhash of one element is the element's bit pattern
    val sigs = spark.sql("SELECT minhash_sigs(array('a b c', 'b c d'), 4) AS m")
      .head().getSeq[Long](0)
    assert(sigs.length == 4)
    // parity with the Column-API form on the same input
    import spark.implicits._
    val viaCol = Seq(Seq("a b c", "b c d")).toDF("sh")
      .select(graft.functions.VectorExprs.minHashSigs($"sh", 4)).head().getSeq[Long](0)
    assert(sigs == viaCol)
  }

  Seq("NULL", "8.5", "'8x'").foreach { bad =>
    test(s"integer-literal SQL arguments: $bad fails with a clear IllegalArgumentException") {
      registerGraftFunctions()
      Seq(s"SELECT minhash_sigs(array('a b'), $bad)",
        "SELECT float_prefix_dots(array(CAST(1.0 AS FLOAT)), " +
          s"array(CAST(1.0 AS FLOAT)), $bad)").foreach { q =>
        val e = intercept[Exception](spark.sql(q).collect())
        val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
        assert(chain.exists(c => c.isInstanceOf[IllegalArgumentException] &&
          c.getMessage != null && c.getMessage.contains("must be an integer literal")), s"$q: $e")
      }
    }
  }

  test("h60 / h60_array callable from spark.sql, match the documented formulation") {
    registerGraftFunctions()
    val r = spark.sql(
      """SELECT h60('hello') AS a,
        |  CAST(conv(substring(md5(CAST('hello' AS BINARY)), 1, 15), 16, 10) AS BIGINT) AS b,
        |  h60_array(array('x', 'y'))[0] AS c, h60('x') AS d""".stripMargin).head()
    assert(r.getLong(0) == r.getLong(1))
    assert(r.getLong(2) == r.getLong(3))
  }

  test("reapLocalCheckpoints releases checkpoint blocks but spares the table cache") {
    import spark.implicits._
    val sc = spark.sparkContext
    // clean slate so counts below are exact
    Engine.reapLocalCheckpoints(spark)
    val before = sc.getPersistentRDDs.keySet
    // a cached table (CacheManager InMemoryRelation) — must SURVIVE reaping
    val cached = Seq(1, 2, 3).toDF("v").persist()
    cached.count()
    // an eager local checkpoint — the leak class the reaper targets
    val ck = Seq(4, 5, 6).toDF("v").localCheckpoint(true)
    assert(ck.count() == 3)
    val added = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(added.values.exists(_.isCheckpointed), "checkpoint RDD registered")
    val reaped = Engine.reapLocalCheckpoints(spark)
    assert(reaped >= 1, s"expected >=1 reaped, got $reaped")
    val after = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(!after.values.exists(_.isCheckpointed), "checkpoint blocks released")
    assert(after.values.exists(!_.isCheckpointed), "cache RDD survives")
    assert(cached.count() == 3) // cached table still serves
    cached.unpersist()
  }
}
