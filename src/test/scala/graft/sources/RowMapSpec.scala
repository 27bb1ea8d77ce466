package graft.sources

import graft.SharedSparkSpec
import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}
import scala.jdk.CollectionConverters._

/** The contract of the maps `getRows` yields: lawful immutable `Map`s that
  * iterate their keys in column order, as the reference's Python dicts do. */
class RowMapSpec extends SharedSparkSpec {

  // Seven columns, named so that no hash order matches the column order.
  private val cols = List("zeta", "id", "alpha", "mid", "beta", "nested", "omega")

  private lazy val reader: ParquetRowReader = {
    val dir = tmpDir("rowmap")
    spark.sql(
      """SELECT CAST(id % 3 AS STRING) AS zeta, id, CAST(id AS DOUBLE) * 1.5 AS alpha,
        |  CAST(id % 2 AS INT) AS mid, IF(id % 4 = 0, NULL, 'b') AS beta,
        |  named_struct('y', id % 3, 'x', array(id % 2)) AS nested, id % 3 AS omega
        |FROM range(12)""".stripMargin).write.mode("overwrite").parquet(dir)
    ParquetRowReader.fromDataFrame(spark.read.parquet(dir).orderBy("id"))
  }

  private def rows(columns: Seq[String] = Nil) = reader.getRows(columns).toVector

  test("keys iterate in column order on a 7-column projection") {
    val rs = rows()
    assert(rs.size == 12)
    rs.foreach { m =>
      assert(m.keys.toList == cols)
      assert(m.iterator.map(_._1).toList == cols)
      assert(m.toList.map(_._1) == cols)
      assert(m("nested").asInstanceOf[Map[String, Any]].keys.toList == List("y", "x"))
    }
    val projected = List("omega", "alpha", "zeta", "id", "mid", "beta")
    assert(rows(projected).forall(_.keys.toList == projected))
  }

  test("lookups: get, apply, getOrElse and contains, present and missing") {
    val m = rows()(5)
    assert(m.size == 7 && m.knownSize == 7)
    assert(m.get("id") == Some(5L) && m("alpha") == 7.5 && m.contains("beta"))
    assert(m.get("missing").isEmpty)
    assert(!m.contains("missing"))
    assert(m.getOrElse("missing", 42) == 42)
    intercept[NoSuchElementException](m("missing"))
  }

  test("updated and removed return ordinary maps in column order") {
    val m = rows()(5)
    val up = m.updated("id", -1L)
    assert(up("id") == -1L && up.size == 7 && up.keys.toList == cols)
    assert(m("id") == 5L, "the row map itself is unchanged")
    val added = m + ("extra" -> 1)
    assert(added.size == 8 && added.keys.toList == cols :+ "extra")
    val rm = m.removed("alpha")
    assert(rm.size == 6 && !rm.contains("alpha") && rm.keys.toList == cols.filterNot(_ == "alpha"))
    assert(m.removed("missing") == m)
    assert((m - "zeta" - "id").keys.toList == cols.drop(2))
  }

  test("equality and hashCode agree with Map(...) both ways; toSet dedups") {
    rows().foreach { m =>
      val plain = Map(m.toSeq: _*)
      assert(m == plain && plain == m)
      assert(m.hashCode == plain.hashCode)
      assert(m != plain.updated("id", -1L) && plain.updated("id", -1L) != m)
      assert(m != plain.removed("id") && plain.removed("id") != m)
    }
    val small = rows(Seq("zeta", "mid"))
    small.foreach { m =>
      val plain = Map("zeta" -> m("zeta"), "mid" -> m("mid"))
      assert(m == plain && plain == m && m.hashCode == plain.hashCode)
    }
    // (id % 3, id % 2) takes 6 distinct values over 12 rows.
    assert(small.toSet.size == 6)
    assert((small ++ small.map(m => Map(m.toSeq: _*))).toSet.size == 6)
  }

  test("Java serialization round trip keeps entries, order and hashCode") {
    rows().foreach { m =>
      val bytes = new ByteArrayOutputStream()
      val out = new ObjectOutputStream(bytes)
      out.writeObject(m)
      out.close()
      val back = new ObjectInputStream(new ByteArrayInputStream(bytes.toByteArray))
        .readObject().asInstanceOf[Map[String, Any]]
      assert(back == m && m == back && back.hashCode == m.hashCode)
      assert(back.keys.toList == cols)
      assert(back("id") == m("id") && back.get("missing").isEmpty)
    }
  }

  test("foreachRows hands f the same maps that getRows yields") {
    val seen = spark.sparkContext.collectionAccumulator[Map[String, Any]]("rowmaps")
    reader.foreachRows(Nil)(m => seen.add(m))
    val viaForeach = seen.value.asScala.toVector.sortBy(_("id").asInstanceOf[Long])
    val viaGetRows = rows()
    assert(viaForeach == viaGetRows)
    assert(viaForeach.map(_.hashCode) == viaGetRows.map(_.hashCode))
    assert(viaForeach.forall(_.keys.toList == cols))
  }
}
