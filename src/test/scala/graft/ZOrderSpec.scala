package graft

import graft.functions.ZOrder
import graft.storage.ParquetCatalog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Z-order layout: correctness of the Morton key and the property the
  * layout exists for — multi-column file pruning. Lexicographic
  * clustering gives the first column tight per-file min/max and leaves
  * the second column's ranges spanning the domain; Morton interleaving
  * keeps BOTH tight, so a selective filter on either column touches a
  * fraction of the files. */
class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  test("morton key interleaves bits in documented order") {
    // bits=2, n=2: key(x=0b10, y=0b01) -> bit(b*2+c): x bits at 0,2; y at 1,3
    val df = Seq((2, 1)).toDF("x", "y")
      .select(ZOrder.zorderKey(2, col("x"), col("y")).as("z"))
    // x=10b -> bits (0,4)? walk: b=0: x bit0=0 -> pos0; y bit0=1 -> pos1
    //          b=1: x bit1=1 -> pos2; y bit1=0 -> pos3  => 0b0110 = 6...
    // positions: pos1 (y) + pos2 (x) => 2 + 4 = 6
    assert(df.head().getLong(0) === 6L)
    // clamping: negatives to 0, overflow to 2^bits-1
    val c = Seq((-5, 99)).toDF("x", "y")
      .select(ZOrder.zorderKey(2, col("x"), col("y")).as("z")).head().getLong(0)
    // x->0 (no bits), y->3 (bits at pos1, pos3) = 2 + 8 = 10
    assert(c === 10L)
  }

  test("zorder locality: key-adjacent rows are close in BOTH dimensions") {
    // points on a 16x16 grid, sorted by morton key, consecutive points'
    // Chebyshev distance stays small for most steps (the curve's
    // locality property) — a plain row-major sort alternates 15-jumps
    // in y on every x wrap
    val pts = for (x <- 0 until 16; y <- 0 until 16) yield (x, y)
    val sortedByZ = pts.sortBy { case (x, y) => ZOrder.mortonKey(4, x, y) }
    val bigJumps = sortedByZ.sliding(2).count {
      case Seq((x1, y1), (x2, y2)) =>
        math.max(math.abs(x1 - x2), math.abs(y1 - y2)) > 4
    }
    assert(bigJumps < 16, s"morton order lost locality: $bigJumps big jumps")
  }

  test("zorder compaction prunes files on EITHER column; lex only on the first") {
    val cat = new ParquetCatalog(spark,
      Files.createTempDirectory("graft-zorder").toString)
    // 64k uniform grid points
    val df = spark.range(0, 65536L, 1, 8)
      .select((col("id") % 256).cast("long").as("a"),
        (col("id") / 256).cast("long").as("b"),
        col("id").as("payload"))
    cat.overwriteVersioned("lex", df)
    cat.overwriteVersioned("zord", df)
    cat.compact("lex", rowsPerFile = 4096, clusterBy = Seq("a", "b"))
    cat.compact("zord", rowsPerFile = 4096, zorderBy = Seq("a", "b"))
    assert(cat.read("zord").count() === 65536L) // layout never changes data
    assert(cat.read("zord").agg(sum("payload")).head().getLong(0) ===
      cat.read("lex").agg(sum("payload")).head().getLong(0))

    def filesTouched(t: String, pred: org.apache.spark.sql.Column): Long =
      cat.read(t).filter(pred)
        .select(input_file_name()).distinct().count()

    val total = cat.fileCount("zord")
    assert(total >= 8, s"expected >=8 files, got $total")
    // selective box on the FIRST column: both layouts prune
    val aPred = col("a") < 16
    assert(filesTouched("lex", aPred) <= math.max(2, total / 4))
    assert(filesTouched("zord", aPred) <= math.max(4, total / 2))
    // selective filter on the SECOND column: lex touches (nearly) every
    // file — b spans the domain inside each a-range — zorder prunes
    val bPred = col("b") < 16
    val lexB = filesTouched("lex", bPred)
    val zordB = filesTouched("zord", bPred)
    assert(lexB >= total - 2,
      s"lex layout unexpectedly pruned on b: $lexB of $total")
    assert(zordB <= total / 2,
      s"zorder must prune on the second column: $zordB of $total")
  }
}
