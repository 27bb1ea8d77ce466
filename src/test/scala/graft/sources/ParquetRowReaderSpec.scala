package graft.sources

import graft.SharedSparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** Mirrors the reference's test matrix (1-file / 3-file-even / 3-file-uneven,
  * nested schema — reference tests/test_parquetbatch.py:242-331) but with
  * genuinely DISTINCT rows, closing the blind spot its aliasing bug created
  * (SURVEY.md §0.1/§5.1): full-content equality is asserted, not just
  * first/last/count.
  */
case class Sub(sub_field_1: String, sub_field_2: Long, sub_field_3: Double,
    sub_field_4: Seq[Long])
case class Rec(field_1: String, field_2: Long, field_3: Double, field_4: Sub,
    field_5: Seq[Sub])

class ParquetRowReaderSpec extends SharedSparkSpec {
  import spark.implicits._

  private def mkRec(i: Int) = Rec(
    field_1 = s"string_field_$i",
    field_2 = i.toLong - 5,
    field_3 = i / 3.0,
    field_4 = Sub(s"sub_$i", i.toLong * 2, i / 7.0, (0L to (i % 9).toLong).toSeq),
    field_5 = (0 until 1 + i % 4).map(j => Sub(s"sub_${i}_$j", j.toLong, j / 3.0, Seq(j.toLong))))

  /** Write rows split across one parquet dir per "file" of the given sizes. */
  private def writeDataset(rowsPerFile: Seq[Int]): (Seq[String], Seq[Rec]) = {
    val dir = tmpDir("rowreader")
    var next = 0
    rowsPerFile.zipWithIndex.foreach { case (n, fi) =>
      val recs = (next until next + n).map(mkRec)
      next += n
      recs.toDS().coalesce(1).write.mode("overwrite").parquet(s"$dir/part_$fi")
    }
    (rowsPerFile.indices.map(fi => s"$dir/part_$fi"), (0 until next).map(mkRec))
  }

  private def matrix = Seq(
    "single file" -> Seq(12),
    "multi-file even" -> Seq(10, 10, 10),
    "multi-file uneven" -> Seq(10, 10, 7))

  for ((label, sizes) <- matrix) {
    test(s"row reader: $label — count/first/last/full equality") {
      val (paths, expected) = writeDataset(sizes)
      val reader = ParquetRowReader.fromPath(spark, paths: _*)
      // Explicit total order: Spark multi-file order is not guaranteed.
      val rows = ParquetRowReader
        .fromDataFrame(reader.df.orderBy(col("field_2")))
        .getRows().toVector
      assert(rows.size == expected.size)
      assert(rows.head("field_1") == expected.head.field_1)
      assert(rows.last("field_1") == expected.last.field_1)
      // Full content, deep-lowered: struct → Map, array → Seq.
      rows.zip(expected).foreach { case (m, e) =>
        assert(m("field_2") == e.field_2)
        assert(m("field_3") == e.field_3)
        val f4 = m("field_4").asInstanceOf[Map[String, Any]]
        assert(f4("sub_field_1") == e.field_4.sub_field_1)
        assert(f4("sub_field_4").asInstanceOf[Seq[Any]] == e.field_4.sub_field_4)
        val f5 = m("field_5").asInstanceOf[Seq[Any]]
        assert(f5.size == e.field_5.size)
      }
    }
  }

  test("row reader: projection returns only requested columns") {
    val (paths, _) = writeDataset(Seq(12))
    val rows = ParquetRowReader.fromPath(spark, paths: _*)
      .getRows(Seq("field_1", "field_2")).toVector
    assert(rows.nonEmpty)
    assert(rows.forall(_.keySet == Set("field_1", "field_2")))
  }

  test("row reader: lazy iterator equals collect") {
    val (paths, _) = writeDataset(Seq(10, 10, 7))
    val df = spark.read.parquet(paths: _*).orderBy(col("field_2"))
    val lazyRows = ParquetRowReader.fromDataFrame(df).getRows(Seq("field_2")).toVector
    val collected = df.select("field_2").collect().map(_.getLong(0)).toVector
    assert(lazyRows.map(_("field_2")) == collected)
  }

  test("row reader: explicit schema + corrupt-file tolerance options") {
    val (paths, expected) = writeDataset(Seq(12))
    val schema = spark.read.parquet(paths: _*).schema
    val reader = ParquetRowReader.fromPath(spark, paths.head, schema)
    assert(reader.getRows().size == expected.size)
  }

  test("row reader: A5 scan-tuning knobs apply per reader, not per session") {
    val (paths, expected) = writeDataset(Seq(10, 10, 7))
    val before = spark.conf.get("spark.sql.parquet.columnarReaderBatchSize")
    val reader = ParquetRowReader.tuned(
      spark,
      ParquetRowReader.ScanTuning(
        batchSize = 1000, ignoreCorruptFiles = true,
        openCostInBytes = Some("1m"), maxPartitionNum = Some(16)),
      paths: _*)
    // knobs hit the reader's scoped session...
    val scoped = reader.df.sparkSession
    assert(scoped.conf.get("spark.sql.parquet.columnarReaderBatchSize") == "1000")
    assert(scoped.conf.get("spark.sql.files.openCostInBytes") == "1m")
    // ...and do NOT leak into the caller's session (reference scopes per call)
    assert(spark.conf.get("spark.sql.parquet.columnarReaderBatchSize") == before)
    assert(reader.getRows(Seq("field_2")).size == expected.size)
  }

  test("type breadth: decimal, date, map, float-array round-trip (SURVEY §1)") {
    val dir = tmpDir("typebreadth")
    val df = spark.sql(
      """SELECT id,
        |  CAST(id * 1.5 AS DECIMAL(10,2)) AS dec,
        |  DATE '2024-01-01' + make_interval(0,0,0,CAST(id AS INT),0,0,0) AS d,
        |  map('k', id, 'k2', id * 2) AS m,
        |  CAST(array(id * 1.0, id * 2.0) AS array<float>) AS emb
        |FROM range(20)""".stripMargin)
    df.write.mode("overwrite").parquet(dir)
    val rows = ParquetRowReader.fromDataFrame(
      spark.read.parquet(dir).orderBy("id")).getRows().toVector
    assert(rows.size == 20)
    val r5 = rows(5)
    assert(r5("dec") == new java.math.BigDecimal("7.50"))
    assert(r5("d") == java.sql.Date.valueOf("2024-01-06"))
    assert(r5("m") == Map("k" -> 5L, "k2" -> 10L))
    assert(r5("emb") == List(5.0f, 10.0f))
  }

  /** The per-row pivot the reader used before its pivot was planned per
    * stream: `Row.schema` on every row, struct → `Map`, any `Seq` → `List`,
    * any `Map` → `Map` with lowered values. The reference for parity. */
  private def refToMap(r: Row): Map[String, Any] =
    r.schema.fieldNames.iterator.zipWithIndex
      .map { case (n, i) => n -> refLower(r.get(i)) }.toMap

  private def refLower(v: Any): Any = v match {
    case r: Row                        => refToMap(r)
    case s: scala.collection.Seq[_]    => s.iterator.map(refLower).toList
    case m: scala.collection.Map[_, _] => m.iterator.map { case (k, x) => k -> refLower(x) }.toMap
    case x                             => x
  }

  /** `getRows(cols)` equals the reference over `collect()` row for row, both
    * ways and in `hashCode`, and iterates its keys in column order. */
  private def assertParity(df: DataFrame, cols: Seq[String] = Nil): Unit = {
    val proj = if (cols.isEmpty) df else df.select(cols.map(col): _*)
    val got = ParquetRowReader.fromDataFrame(df).getRows(cols).toVector
    val want = proj.collect().toVector.map(refToMap)
    assert(got.size == want.size)
    got.zip(want).foreach { case (g, w) =>
      assert(g == w && w == g, s"$g != $w")
      assert(g.hashCode == w.hashCode)
      assert(g.keys.toList == proj.schema.fieldNames.distinct.toList)
    }
  }

  private def nestedDataset(): DataFrame = {
    val dir = tmpDir("pivot_parity")
    spark.sql(
      """SELECT id,
        |  IF(id % 5 = 0, NULL, named_struct('a', id, 'b', CAST(id AS STRING),
        |    'inner', named_struct('x', id * 2, 'ys', array(id, NULL)))) AS st,
        |  IF(id % 7 = 0, NULL, array(named_struct('p', id, 'q', 'x'), NULL)) AS arr_st,
        |  map('k1', named_struct('v', id),
        |      'k2', IF(id % 3 = 0, NULL, named_struct('v', id + 1))) AS map_st,
        |  IF(id % 4 = 0, NULL, array(id, NULL, id + 1)) AS arr,
        |  CAST(id * 1.25 AS DECIMAL(12,3)) AS dec,
        |  date_add(DATE '2024-01-01', CAST(id AS INT)) AS d,
        |  TIMESTAMP '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts,
        |  CAST(CAST(id AS STRING) AS BINARY) AS bin
        |FROM range(40)""".stripMargin)
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).orderBy("id")
  }

  test("pivot parity: nested structs, arrays of structs, maps, nulls, decimal/date/timestamp/binary") {
    val df = nestedDataset()
    // Binary values are arrays, equal only to themselves: compare them by
    // content, and everything else exactly (== both ways and hashCode).
    val nonBinary = df.columns.filterNot(_ == "bin").toSeq
    assertParity(df, nonBinary)
    assertParity(df, Seq("arr_st", "st"))
    val got = ParquetRowReader.fromDataFrame(df).getRows().toVector
    val want = df.collect().toVector.map(refToMap)
    assert(got.size == 40)
    got.zip(want).foreach { case (g, w) =>
      assert(g.keys.toList == df.columns.toList)
      assert(java.util.Arrays.equals(
        g("bin").asInstanceOf[Array[Byte]], w("bin").asInstanceOf[Array[Byte]]))
      assert(g.removed("bin") == w.removed("bin"))
    }
    val r1 = got(1)
    assert(r1("ts").isInstanceOf[java.sql.Timestamp])
    assert(r1("dec") == new java.math.BigDecimal("1.250"))
    assert(r1("arr") == List(1L, null, 2L))
    val st = r1("st").asInstanceOf[Map[String, Any]]
    assert(st.keys.toList == List("a", "b", "inner"))
    assert(st("inner") == Map("x" -> 2L, "ys" -> List(1L, null)))
    assert(r1("arr_st") == List(Map("p" -> 1L, "q" -> "x"), null))
    assert(got(0)("st") == null && got(0)("arr_st") == null && got(0)("arr") == null)
    assert(got(3)("map_st") == Map("k1" -> Map("v" -> 3L), "k2" -> null))
  }

  test("degenerate: empty dataset streams no rows, schema still readable") {
    val dir = tmpDir("pivot_empty")
    spark.sql("SELECT id, CAST(id AS STRING) AS s, named_struct('x', id) AS st FROM range(0)")
      .write.mode("overwrite").parquet(dir)
    val reader = ParquetRowReader.fromPath(spark, dir)
    assert(reader.df.schema.fieldNames.toList == List("id", "s", "st"))
    assert(reader.getRows().isEmpty)
    assert(reader.getRows(Seq("st")).isEmpty)
  }

  test("degenerate: all-null columns keep their keys") {
    val dir = tmpDir("pivot_nulls")
    spark.sql(
      """SELECT id, CAST(NULL AS STRING) AS s, CAST(NULL AS ARRAY<INT>) AS a,
        |  CAST(NULL AS STRUCT<x: INT>) AS st, CAST(NULL AS MAP<STRING, INT>) AS m
        |FROM range(5)""".stripMargin).write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir).orderBy("id")
    assertParity(df)
    ParquetRowReader.fromDataFrame(df).getRows().foreach { m =>
      assert(m.size == 5)
      Seq("s", "a", "st", "m").foreach { k =>
        assert(m.contains(k) && m.get(k) == Some(null) && m(k) == null)
      }
    }
  }

  test("degenerate: a duplicate-name projection keeps the last occurrence, size 1") {
    val (paths, expected) = writeDataset(Seq(12))
    val reader = ParquetRowReader.fromPath(spark, paths: _*)
    val rows = reader.getRows(Seq("field_2", "field_2")).toVector
    assert(rows.size == expected.size)
    assert(rows.forall(_.size == 1))
    assertParity(reader.df, Seq("field_2", "field_2"))
    // Two different columns under one name: the last one's value wins.
    val renamed = reader.df.orderBy("field_2")
      .select(col("field_1").as("k"), col("field_2").as("v"), col("field_3").as("k"))
    val got = ParquetRowReader.fromDataFrame(renamed).getRows().toVector
    assert(got.map(_.keys.toList).distinct == Vector(List("k", "v")))
    assert(got.map(_("k")) == expected.sortBy(_.field_2).map(_.field_3))
    assertParity(renamed)
  }

  test("fromDataFrame over a join: duplicate column names from both sides") {
    import spark.implicits._
    val l = Seq((1, "l1", 10.0), (2, "l2", 20.0)).toDF("k", "v", "w")
    val r = Seq((1, "r1"), (2, "r2")).toDF("k", "v")
    val joined = l.join(r, l("k") === r("k")).orderBy(l("k"))
    assert(joined.columns.toList == List("k", "v", "w", "k", "v"))
    val rows = ParquetRowReader.fromDataFrame(joined).getRows().toVector
    assert(rows == Vector(
      Map("k" -> 1, "v" -> "r1", "w" -> 10.0),
      Map("k" -> 2, "v" -> "r2", "w" -> 20.0)))
    assert(rows.forall(_.keys.toList == List("k", "v", "w")))
    assertParity(joined)
  }
}
