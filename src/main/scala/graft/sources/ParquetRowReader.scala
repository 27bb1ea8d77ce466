package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import scala.collection.MapFactory
import scala.collection.immutable.{AbstractMap, VectorMap}
import scala.jdk.CollectionConverters._

/** Row-streaming parity module: the faithful — and corrected — port of the
  * reference's public API (SURVEY.md §7.2 phase 4).
  *
  * Reference surface (src/parquetreader/reader.py):
  *  - `from_path(path)` → reader over one file / a directory / a file list
  *    (reader.py:128-129)                            → [[ParquetRowReader.fromPath]]
  *  - `ParquetReader(dataset)` / `from_dataset(ds)` dependency-injected
  *    source with imposed schema (reader.py:28-29,112-113)
  *                                       → [[ParquetRowReader.fromDataFrame]] /
  *                                         [[ParquetRowReader.fromPath(spark,path,schema)*]]
  *  - `get_rows(columns)` projection + lazy row-dict iteration
  *    (reader.py:90-97)                              → [[ParquetRowReader.getRows]]
  *  - `get_rows_with_args(**kwargs)` expert knobs (reader.py:47-49):
  *    batch_size ↔ spark.sql.parquet.columnarReaderBatchSize,
  *    fragment_readahead ↔ spark.sql.files.openCostInBytes/maxPartitionNum,
  *    use_threads ↔ master threads. [[ParquetRowReader.tuned]] scopes them
  *    per reader (child session), matching the reference's per-call scoping.
  *
  * Semantics note (SURVEY.md §0.1): the reference's generator yields one
  * shared, repeatedly-overwritten dict per batch (`records = [{}] * n`,
  * reader.py:55) — an aliasing bug its own degenerate test data hides. This
  * port implements the *documented* semantics (README.md:47-50): lossless,
  * per-row-distinct maps. Each row is an immutable `Map[String, Any]` that
  * iterates its keys in column order, as the reference's Python dicts do; a
  * projection that names a column twice keeps one key holding the last
  * occurrence's value. Nested structs lower to such maps, arrays to `List`,
  * map columns to `Map` — the analogue of Arrow's `.as_py()` lowering
  * (reader.py:64). The pivot is planned once per stream from the
  * projection's schema: every row of the stream shares its column names
  * and name→position index.
  *
  * Memory contract: `getRows` streams via `toLocalIterator()` — one
  * partition resident in the driver at a time, the direct analogue of the
  * reference's one-batch-resident generator contract (README.md:47-55).
  * At cluster scale, prefer [[foreachRows]] (distributed consumption) over
  * driver-side iteration.
  */
final class ParquetRowReader private (val df: DataFrame) {

  /** All columns, lazily, one row-map at a time. */
  def getRows(): Iterator[Map[String, Any]] = getRows(Nil)

  /** Projected columns (pushed down to the parquet scan), lazily. */
  def getRows(columns: Seq[String]): Iterator[Map[String, Any]] = {
    val proj = if (columns.isEmpty) df else df.select(columns.map(col): _*)
    proj.toLocalIterator().asScala.map(new ParquetRowReader.RowPivot(proj.schema))
  }

  /** Distributed consumption: run `f` over row-maps on the executors —
    * the 100 TB-scale replacement for driver-side iteration. */
  def foreachRows(columns: Seq[String])(f: Map[String, Any] => Unit): Unit = {
    val proj = if (columns.isEmpty) df else df.select(columns.map(col): _*)
    val pivot = new ParquetRowReader.RowPivot(proj.schema)
    proj.foreachPartition { (it: Iterator[Row]) => it.map(pivot).foreach(f) }
  }
}

object ParquetRowReader {

  /** The reference's `get_rows_with_args` resource knobs (reader.py:47-49,
    * README.md:76-83), mapped to their Spark scan controls.
    *
    *  - `batchSize` ↔ Arrow `batch_size` (rows per columnar batch) ↔
    *    `spark.sql.parquet.columnarReaderBatchSize` (default 4096)
    *  - `maxPartitionBytes` ↔ the scan's per-task input split — the knob
    *    that bounds executor memory per task at 100 TB
    *  - `openCostInBytes` ↔ `fragment_readahead` (reader.py:95): how
    *    aggressively small files pack into one task — a LOWER open cost
    *    packs more fragments per task (more effective readahead), a higher
    *    one spreads them across tasks
    *  - `maxPartitionNum` bounds the total split count (the global
    *    fragment-parallelism ceiling); `batch_readahead` itself has no
    *    analogue — Spark pipelines batches inside whole-stage codegen
    *  - `use_threads=False` ↔ `master("local[1]")` — a session-level choice
    */
  final case class ScanTuning(
      batchSize: Int = 4096,
      maxPartitionBytes: String = "128m",
      ignoreCorruptFiles: Boolean = false,
      openCostInBytes: Option[String] = None,
      maxPartitionNum: Option[Int] = None)

  /** Build a reader with `tuning` scoped to THAT READER ONLY (A5 parity).
    * The reference scopes knobs per `get_rows_with_args` call; a shared
    * SQLConf mutation would leak them into every other reader on the
    * session. `newSession()` is Spark's isolation mechanism for exactly
    * this: a child session with its own SQLConf over the same SparkContext
    * (same executors, same cached blocks), so the tuned confs die with the
    * reader and the caller's session is never touched. */
  def tuned(spark: SparkSession, tuning: ScanTuning, path: String*): ParquetRowReader = {
    val scoped = spark.newSession()
    scoped.conf.set("spark.sql.parquet.columnarReaderBatchSize", tuning.batchSize.toString)
    scoped.conf.set("spark.sql.files.maxPartitionBytes", tuning.maxPartitionBytes)
    scoped.conf.set("spark.sql.files.ignoreCorruptFiles", tuning.ignoreCorruptFiles.toString)
    tuning.openCostInBytes.foreach(scoped.conf.set("spark.sql.files.openCostInBytes", _))
    tuning.maxPartitionNum.foreach(n => scoped.conf.set("spark.sql.files.maxPartitionNum", n.toString))
    fromPath(scoped, path: _*)
  }

  /** Reference `from_path`: file, directory, or list — one logical table. */
  def fromPath(spark: SparkSession, path: String*): ParquetRowReader =
    new ParquetRowReader(spark.read.parquet(path: _*))

  /** Reference `from_dataset` with an imposed schema + tolerance options
    * (reference tests:392-398: explicit schema, exclude_invalid_files;
    * hidden "."/"_" files are skipped by Spark natively). */
  def fromPath(spark: SparkSession, path: String, schema: StructType): ParquetRowReader =
    new ParquetRowReader(
      spark.read.schema(schema)
        .option("ignoreCorruptFiles", "true")
        .parquet(path))

  /** Reference `ParquetReader(dataset)`: wrap a caller-built source. */
  def fromDataFrame(df: DataFrame): ParquetRowReader = new ParquetRowReader(df)

  /** The columnar→row pivot of one schema, planned once per stream: the
    * distinct column names in order, the position each name reads (the last
    * field of that name, as a dict assigned in field order keeps), and for
    * each one the lowering its type needs — struct → row map (through the
    * struct's own pivot), array → `List`, map → `Map`; every other type
    * passes through as the `Row` holds it. */
  private[sources] final class RowPivot(schema: StructType)
      extends (Row => Map[String, Any]) with Serializable {
    private val columns = new Columns(schema.fieldNames.distinct)
    private val source = columns.names.map(schema.fieldNames.lastIndexOf(_))
    // null where the value passes through unchanged
    private val lowerings: Array[Any => Any] =
      source.map(i => RowPivot.lowering(schema(i).dataType))

    def apply(r: Row): Map[String, Any] = {
      val values = new Array[Any](source.length)
      var i = 0
      while (i < values.length) {
        val v = r.get(source(i))
        val lower = lowerings(i)
        values(i) = if (v == null || lower == null) v else lower(v)
        i += 1
      }
      new RowMap(columns, values)
    }
  }

  private object RowPivot {
    def lowering(t: DataType): Any => Any = t match {
      case s: StructType =>
        val pivot = new RowPivot(s)
        v => pivot(v.asInstanceOf[Row])
      case ArrayType(et, _) =>
        val lower = elementLowering(et)
        v => v.asInstanceOf[scala.collection.Seq[Any]].iterator.map(lower).toList
      case MapType(_, vt, _) =>
        val lower = elementLowering(vt)
        v => v.asInstanceOf[scala.collection.Map[Any, Any]].iterator
          .map { case (k, x) => k -> lower(x) }.toMap
      case _ => null
    }

    private def elementLowering(t: DataType): Any => Any = {
      val lower = lowering(t)
      if (lower == null) identity else x => if (x == null) null else lower(x)
    }
  }

  /** The key side shared by every row map of one stream. */
  private final class Columns(val names: Array[String]) extends Serializable {
    private val index: Map[String, Int] = names.iterator.zipWithIndex.toMap
    def indexOf(name: String): Int = index.getOrElse(name, -1)
  }

  /** One row: an immutable map over the row's `values`, in column order.
    * Lookups and `size` are O(1); equality and `hashCode` are the
    * collection library's, so they agree with any `Map` of the same
    * entries. `updated`, `removed` and the derived collections (`filter`,
    * `map`, `++`, ...) build a `VectorMap`, which keeps the column order. */
  private final class RowMap(columns: Columns, values: Array[Any])
      extends AbstractMap[String, Any] with Serializable {
    override def size: Int = values.length
    override def knownSize: Int = values.length

    def get(key: String): Option[Any] = {
      val i = columns.indexOf(key)
      if (i < 0) None else Some(values(i))
    }
    override def apply(key: String): Any = {
      val i = columns.indexOf(key)
      if (i < 0) default(key) else values(i)
    }
    override def getOrElse[V1 >: Any](key: String, default: => V1): V1 = {
      val i = columns.indexOf(key)
      if (i < 0) default else values(i)
    }
    override def contains(key: String): Boolean = columns.indexOf(key) >= 0

    def iterator: Iterator[(String, Any)] = columns.names.iterator.zip(values.iterator)
    override def keysIterator: Iterator[String] = columns.names.iterator
    override def valuesIterator: Iterator[Any] = values.iterator
    override def foreachEntry[U](f: (String, Any) => U): Unit = {
      var i = 0
      while (i < values.length) { f(columns.names(i), values(i)); i += 1 }
    }

    def updated[V1 >: Any](key: String, value: V1): Map[String, V1] =
      VectorMap.from[String, V1](iterator).updated(key, value)
    def removed(key: String): Map[String, Any] = VectorMap.from(iterator).removed(key)
    override def mapFactory: MapFactory[Map] = VectorMap
  }
}
