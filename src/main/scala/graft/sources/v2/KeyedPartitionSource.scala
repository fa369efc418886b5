package graft.sources.v2

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DSv2 source for STORAGE-PARTITIONED JOINS (SPJ): reads a
  * `partitionBy(key)` parquet layout (`<key>=<value>/` dirs) and reports
  * `KeyGroupedPartitioning(identity(key))` with a per-partition key
  * (`HasPartitionKey`), so a join between two tables laid out on the same
  * key plans with ZERO shuffle — Spark aligns the key groups directly
  * (the Iceberg/Delta bucketed-table contract, SPARK-37377).
  *
  * This is the difference between shuffling 100 TB twice and shuffling
  * nothing: a fact-fact join on a co-partitioned key moves no rows at
  * all, and a downstream groupBy on the same key reuses the partitioning
  * (KeyGroupedPartitioning satisfies ClusteredDistribution), so the whole
  * join+aggregate pipeline is exchange-free. Requires
  * `spark.sql.sources.v2.bucketing.enabled=true` ([[Spj.readKeyed]] sets
  * it).
  *
  * One InputPartition per key value (all its files); a production table
  * with giant key groups would report several partitions per key and let
  * Spark's partially-clustered distribution handle the grouping — the
  * per-key contract here keeps the demonstration exact.
  *
  * Column pruning is pushed into the reader; a projection that needs no
  * data columns (count(*), key-only) is answered from parquet FOOTER row
  * counts without reading any pages.
  *
  * Usage: [[Spj.writeKeyed]] to land the layout, [[Spj.readKeyed]] to
  * scan it.
  */
class KeyedPartitionSource extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new IllegalArgumentException(
      "graft keyed-partition source needs an explicit .schema(...) " +
        "(the partition column is not stored in the data files)")

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new KeyedPartitionTable(properties.get("path"), properties.get("keyCol"),
      schema)
}

class KeyedPartitionTable(path: String, keyCol: String, tableSchema: StructType)
    extends Table with SupportsRead {
  require(path != null && keyCol != null, "options 'path' and 'keyCol' are required")
  require(tableSchema.fieldNames.contains(keyCol),
    s"schema must contain the partition column $keyCol")

  override def name(): String = s"keyed[$path by $keyCol]"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new KeyedScanBuilder(path, keyCol, tableSchema)
}

class KeyedScanBuilder(path: String, keyCol: String, tableSchema: StructType)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = tableSchema

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new KeyedScan(path, keyCol, tableSchema, required)
}

class KeyedScan(path: String, keyCol: String, tableSchema: StructType,
    required: StructType) extends Scan with Batch with SupportsReportPartitioning {

  private val keyType: DataType = tableSchema(keyCol).dataType

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = s"KeyedScan[$path by $keyCol]"

  /** One key group per `<key>=<value>` dir, sorted by typed key value so
    * the partition order is deterministic across scans. */
  private lazy val parts: Array[KeyedFilePartition] = {
    val root = new Path(path)
    val f = root.getFileSystem(new Configuration())
    val dirs = f.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$keyCol="))
    val withKeys = dirs.map { d =>
      val raw = d.getPath.getName.stripPrefix(s"$keyCol=")
      val files = f.listStatus(d.getPath)
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet") &&
          !s.getPath.getName.startsWith(".") && !s.getPath.getName.startsWith("_"))
        .map(_.getPath.toString).sorted
      (raw, files)
    }
    val sorted = keyType match {
      case IntegerType | LongType => withKeys.sortBy(_._1.toLong)
      case _ => withKeys.sortBy(_._1)
    }
    sorted.map { case (raw, files) =>
      KeyedFilePartition(raw, files.toSeq, keyType.json, tableSchema.json,
        required.json, keyCol)
    }
  }

  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(
      Array(Expressions.identity(keyCol)), parts.length)

  override def planInputPartitions(): Array[InputPartition] =
    parts.map(p => p: InputPartition)

  override def createReaderFactory(): PartitionReaderFactory =
    new KeyedReaderFactory
}

case class KeyedFilePartition(rawKey: String, files: Seq[String],
    keyTypeJson: String, tableSchemaJson: String, requiredJson: String,
    keyCol: String) extends InputPartition with HasPartitionKey {

  /** The typed key Spark groups and aligns partitions by. */
  override def partitionKey(): InternalRow = {
    val v: Any = DataType.fromJson(keyTypeJson) match {
      case IntegerType => rawKey.toInt
      case LongType => rawKey.toLong
      case StringType => UTF8String.fromString(rawKey)
      case other => throw new UnsupportedOperationException(
        s"partition key type $other (INT, BIGINT, STRING supported)")
    }
    new GenericInternalRow(Array(v))
  }
}

class KeyedReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[KeyedFilePartition]
    val required = DataType.fromJson(p.requiredJson).asInstanceOf[StructType]
    val needsData = required.fieldNames.exists(_ != p.keyCol)
    if (needsData) new KeyedFileReader(p) else new KeyedCountReader(p)
  }
}

/** Footer-only reader for projections that need no data column
  * (count(*) or key-only): row counts come from parquet block metadata,
  * no page is decoded. */
class KeyedCountReader(p: KeyedFilePartition) extends PartitionReader[InternalRow] {
  import org.apache.parquet.hadoop.ParquetFileReader
  import org.apache.parquet.hadoop.util.HadoopInputFile

  private val required = DataType.fromJson(p.requiredJson).asInstanceOf[StructType]
  private val conf = new Configuration()
  private lazy val total: Long = p.files.map { f =>
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
    try r.getRecordCount finally r.close()
  }.sum
  private var emitted = 0L
  private val row: InternalRow = new GenericInternalRow(
    required.fields.map[Any] { fl =>
      require(fl.name == p.keyCol, s"unexpected data column ${fl.name}")
      p.partitionKey().get(0, fl.dataType)
    })

  override def next(): Boolean = { emitted += 1; emitted <= total }
  override def get(): InternalRow = row
  override def close(): Unit = ()
}

/** Reads the partition's parquet files (standard Spark-written layout)
  * into the required schema; the partition column is injected from the
  * directory key. */
class KeyedFileReader(p: KeyedFilePartition) extends PartitionReader[InternalRow] {
  import org.apache.parquet.example.data.Group
  import org.apache.parquet.hadoop.ParquetReader
  import org.apache.parquet.hadoop.example.GroupReadSupport

  private val required = DataType.fromJson(p.requiredJson).asInstanceOf[StructType]
  private val conf = new Configuration()
  private val keyValue: Any = p.partitionKey().get(0,
    DataType.fromJson(p.keyTypeJson))

  private val fileIter = p.files.iterator
  private var reader: ParquetReader[Group] = _
  private var current: Group = _

  private def openNext(): Boolean = {
    if (reader != null) reader.close()
    if (!fileIter.hasNext) { reader = null; false }
    else {
      reader = ParquetReader.builder(new GroupReadSupport(),
        new Path(fileIter.next())).withConf(conf).build()
      true
    }
  }

  override def next(): Boolean = {
    if (reader == null && !openNext()) return false
    current = reader.read()
    while (current == null) {
      if (!openNext()) return false
      current = reader.read()
    }
    true
  }

  override def get(): InternalRow = {
    val g = current
    val gt = g.getType
    val vals = required.fields.map[Any] { fl =>
      if (fl.name == p.keyCol) keyValue
      else {
        val idx = gt.getFieldIndex(fl.name)
        if (g.getFieldRepetitionCount(idx) == 0) null
        else fl.dataType match {
          case BooleanType => g.getBoolean(idx, 0)
          case IntegerType | DateType => g.getInteger(idx, 0)
          case LongType => g.getLong(idx, 0)
          case DoubleType => g.getDouble(idx, 0)
          case StringType => UTF8String.fromString(g.getString(idx, 0))
          case other => throw new UnsupportedOperationException(other.toString)
        }
      }
    }
    new GenericInternalRow(vals)
  }

  override def close(): Unit = if (reader != null) reader.close()
}

/** Write/read helpers for the storage-partitioned-join layout, plus the
  * q203 join body (shared with PlanQualitySpec so the zero-shuffle pin
  * inspects exactly the shipped plan). */
object Spj {
  val custSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType)))

  val suppSchema: StructType = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_nationkey", IntegerType),
    StructField("s_acctbal", DoubleType)))

  /** Land `df` in the key-grouped layout (one dir per key value). */
  def writeKeyed(df: DataFrame, path: String, keyCol: String): Unit =
    df.write.mode("overwrite").partitionBy(keyCol).parquet(path)

  def readKeyed(spark: SparkSession, path: String, schema: StructType,
      keyCol: String): DataFrame = {
    // lets the planner consume DSv2 KeyGroupedPartitioning (off by default)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.read.format(classOf[KeyedPartitionSource].getName)
      .schema(schema).option("path", path).option("keyCol", keyCol).load()
  }

  /** customer ⋈ supplier on nationkey over two co-partitioned layouts:
    * with both scans reporting KeyGroupedPartitioning(identity(nationkey)),
    * the merge join AND the following per-nation aggregate plan with no
    * exchange at all (the `merge` hint only pins the join strategy — the
    * absence of shuffles is the SPJ machinery, asserted in
    * PlanQualitySpec). */
  def spjJoin(spark: SparkSession, base: String): DataFrame = {
    val cust = readKeyed(spark, s"$base/cust", custSchema, "c_nationkey")
    val supp = readKeyed(spark, s"$base/supp", suppSchema, "s_nationkey")
    cust.hint("merge")
      .join(supp, col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_pairs"),
        graft.ops.Exact.sum(graft.ops.Exact.dec(col("c_acctbal")) +
          graft.ops.Exact.dec(col("s_acctbal"))).cast("double").as("bal"))
  }
}
