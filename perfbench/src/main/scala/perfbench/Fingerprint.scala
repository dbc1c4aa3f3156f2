package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A query result's identity: its row count and the exact sum of one
  * 64-bit hash (`xxhash64` of the row's values) per row. A sum does not depend on row order or
  * partitioning, and a changed, missing or extra row changes it. */
final case class Fingerprint(rows: Long, hash: BigDecimal) {
  override def toString: String = s"$rows\t${hash.bigDecimal.toPlainString}"
}

object Fingerprint {

  def of(df: DataFrame): Fingerprint = {
    // positional names: results may repeat a column name
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    // the hash functions reject maps; those columns are hashed as JSON
    val rowHash = xxhash64(renamed.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(struct(col(f.name)))
      else col(f.name)
    }: _*)
    val r = renamed
      .agg(count(lit(1)), sum(rowHash.cast(DecimalType(38, 0))))
      .head()
    Fingerprint(r.getLong(0),
      Option(r.getDecimal(1)).fold(BigDecimal(0))(BigDecimal(_)))
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Reads `name <TAB> rows <TAB> hash` lines. */
  def load(file: Path): Map[String, Fingerprint] =
    Files.readAllLines(file, StandardCharsets.UTF_8).asScala
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(name, rows, hash) = l.split('\t')
        name -> Fingerprint(rows.toLong, BigDecimal(hash))
      }.toMap

  def save(file: Path, prints: Seq[(String, Fingerprint)], header: String = ""): Unit =
    Files.write(file, (header.linesIterator.map("# " + _).toSeq ++
      prints.sortBy(_._1).map { case (n, f) => s"$n\t$f" }).asJava, StandardCharsets.UTF_8)
}
