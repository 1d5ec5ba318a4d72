package graft

import graft.functions.{EmbedText, GraftFunctions, TextFns, TokenSetRatio}
import org.apache.spark.sql.functions._

/** SQL function registry: every Column-API custom function is callable
  * from plain SQL with identical results. */
class GraftFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("registered SQL functions equal their Column-API twins") {
    GraftFunctions.register(spark)
    val df = Seq((1L, "Hello  WORLD this is text"), (2L, "a b c 12345 !!!"))
      .toDF("id", "t")
    df.createOrReplaceTempView("gfx_docs")
    val viaSql = spark.sql(
      """SELECT id,
        |  token_set_ratio(t, 'hello world') AS tsr,
        |  estimate_tokens(t) AS et,
        |  non_alpha_ratio(t) AS nar,
        |  doc_fingerprint(t) AS fp,
        |  embed_text(t) AS emb
        |FROM gfx_docs""".stripMargin)
      .collect().map(r => (r.getLong(0), r.get(1), r.get(2), r.get(3), r.get(4),
        r.getSeq[Float](5))).sortBy(_._1).toSeq
    val viaApi = df.select(col("id"),
        TokenSetRatio(col("t"), lit("hello world")),
        TextFns.estimateTokensCol(col("t")),
        TextFns.nonAlphaRatioCol(col("t")),
        md5(regexp_replace(trim(lower(col("t"))), "\\s+", " ")),
        EmbedText(col("t")))
      .collect().map(r => (r.getLong(0), r.get(1), r.get(2), r.get(3), r.get(4),
        r.getSeq[Float](5))).sortBy(_._1).toSeq
    assert(viaSql === viaApi)
    // the fingerprint registered in SQL matches the ops-layer fingerprint
    val opsFp = graft.ops.TextAnalysis.fingerprint(df, "id", "t")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    viaSql.foreach { case (id, _, _, _, fp, _) => assert(opsFp(id) === fp) }
    // arity misuse is a loud error, not a silent null
    val err = intercept[Exception](spark.sql("SELECT estimate_tokens('a', 'b')").collect())
    assert(err.getMessage.contains("expects 1 argument"))
  }

  test("shingleHashes equals the hash set of the string shingles (fused fast path)") {
    import graft.functions.TextFns
    val texts = Seq(
      "", "   ", "one", "one two", "alpha beta gamma delta alpha beta gamma",
      "Dr Elena Vasquez collaborates with Vertex Analytics Group.",
      "a b a b a b a b", "x;y,z--w  q", "Ünïcode tëst ünïcode tëst wörds")
    for (t <- texts; k <- 1 to 4) {
      val want = TextFns.shingles(t, k).distinct.map(TextFns.fnv1a64).toSet
      val got = TextFns.shingleHashes(t, k).toSet
      assert(got === want, s"text='$t' k=$k")
      // sorted + deduped contract
      val arr = TextFns.shingleHashes(t, k)
      assert(arr.toSeq === arr.toSeq.sorted)
      assert(arr.length === arr.toSet.size)
    }
  }

  test("native sorted-intersect size equals the set intersection of sorted hash sets") {
    import graft.functions.SortedIntersectSize
    val rnd = new scala.util.Random(7L)
    // small alphabets (negative values included) so random sets overlap
    def set(): Array[Long] = Array.fill(rnd.nextInt(12))(rnd.nextInt(24).toLong - 12L).distinct.sorted
    val rows = (0 until 200).map(i => (i.toLong, Option(set()), Option(set()))) ++
      Seq((900L, Some(Array.empty[Long]), Some(Array(1L))), (901L, None, Some(Array(1L))),
        (902L, Some(TextFns.shingleHashes("a b c d e", 3)),
          Some(TextFns.shingleHashes("x b c d e", 3))))
    val got = rows.toDF("id", "a", "b")
      .select(col("id"), SortedIntersectSize(col("a"), col("b")))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    rows.foreach { case (id, a, b) =>
      assert(got(id) === (for (x <- a; y <- b) yield (x.toSet intersect y.toSet).size), s"row $id")
    }
    assert(got(902L) === Some(2))
    val err = intercept[Exception](Seq((Array(1), Array(1))).toDF("a", "b")
      .select(SortedIntersectSize(col("a"), col("b"))).collect())
    assert(err.getMessage.contains("sorted_intersect_size"))
  }

  test("native cosine expression equals the Scala function, handles nulls and dim mismatch") {
    import graft.functions.CosineSim
    val rows = Seq(
      (1L, Some(Array(1f, 2f, 3f)), Some(Array(3f, 2f, 1f))),
      (2L, Some(Array(1f, 0f)), Some(Array(0f, 1f))),
      (3L, Some(Array(0f, 0f)), Some(Array(1f, 1f))), // zero norm -> 0.0
      (4L, None: Option[Array[Float]], Some(Array(1f, 1f))), // null -> null
      (5L, Some(Array(1f, 1f, 1f, 1f)), Some(Array(1f, 1f)))) // min-dim prefix
    val df = rows.toDF("id", "a", "b")
    val got = df.select(col("id"), CosineSim(col("a"), col("b")).as("c"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    rows.foreach { case (id, a, b) =>
      val want = for (x <- a; y <- b) yield TextFns.cosine(x, y)
      assert(got(id) === want, s"row $id")
    }
    // byte-identical to the boxed-UDF formulation it replaced
    val viaUdf = udf((x: Seq[Float], y: Seq[Float]) =>
      if (x == null || y == null) null.asInstanceOf[java.lang.Double]
      else java.lang.Double.valueOf(TextFns.cosine(x.toArray, y.toArray)))
    val udfVals = df.select(col("id"), viaUdf(col("a"), col("b")).as("c"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got === udfVals)
  }

  test("PDF-layout SQL functions equal their Column-API twins") {
    GraftFunctions.register(spark)
    val row = spark.sql(
      """SELECT
        |  crop_pixels(clamp_bbox(bbox_from_polygon(
        |    array(650.0d, -10.0d, 600.0d, -10.0d, 600.0d, 100.0d, 650.0d, 100.0d)),
        |    612.0d, 792.0d)) AS px,
        |  bbox_from_polygon(array(1.0d, 2.0d)) AS degenerate,
        |  table_markdown(2, 2, array(
        |    named_struct('row_index', 0, 'column_index', 0, 'content', 'a'),
        |    named_struct('row_index', 0, 'column_index', 1, 'content', 'b'),
        |    named_struct('row_index', 1, 'column_index', 0, 'content', 'c'))) AS md
        |""".stripMargin).head()
    assert(row.getSeq[Long](0) === Seq(180000L, 0L, 183600L, 30000L))
    assert(row.isNullAt(1))
    assert(row.getString(2) === "| a | b |\n| --- | --- |\n| c |  |\n")
  }
}
