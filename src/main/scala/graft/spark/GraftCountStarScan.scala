package graft.spark

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{Batch, InputPartition,
  PartitionReader, PartitionReaderFactory, Scan}
import org.apache.spark.sql.types.StructType

/** METADATA-ONLY aggregates (Delta/Iceberg parity): a plain
  * `SELECT count(*) [, min(x), max(x)] FROM <catalog>.t` never needs a
  * data page. [[GraftScanBuilder]] intercepts Spark's aggregate pushdown
  * and, when the answer is provable from the manifest and the index,
  * replaces the whole scan with this one single-row partition carrying
  * the partial values; Spark's final aggregation folds the one row. At
  * 100 TB that is O(files) footer metadata once (then O(1) from the
  * index) instead of reading every row. */
class GraftCountStarScan(schema: StructType, row: Seq[Any])
  extends Scan with Batch {

  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftCountStarScan(${schema.fieldNames.zip(row)
      .map { case (n, v) => s"$n=$v" }.mkString(", ")}, metadata-only)"

  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftCountPartition(row))

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftCountReaderFactory
}

case class GraftCountPartition(row: Seq[Any]) extends InputPartition

class GraftCountReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val cp = p.asInstanceOf[GraftCountPartition]
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean =
        if (emitted) false else { emitted = true; true }
      override def get(): InternalRow =
        new GenericInternalRow(cp.row.toArray)
      override def close(): Unit = ()
    }
  }
}
