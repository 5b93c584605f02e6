package graftbench

import java.io.FileInputStream
import java.nio.file.{Files, Path, Paths}
import java.util.Properties

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.sources.LakeVersions

/** One operation: the call into graft's public entry point, returning
  * the frame the harness then forces through `BenchForce.force`, or
  * None when the call itself did all the work (a lake write). */
final case class Op(name: String, run: () => Option[DataFrame])

trait Workload {
  def name: String
  def ops(spark: SparkSession, pass: Int): Seq[Op]
  /** Facts measured after a pass, outside its wall. */
  def afterPass(pass: Int): Main.Rec = Map.empty
  /** The checked pass hands each op's frame here instead of forcing
    * it; the returned map is stored with that op's check record. */
  def checkFrame(op: String, df: DataFrame, out: Path): Main.Rec
  /** Called once after the checked pass, before [[afterPass]]. */
  def finishCheck(spark: SparkSession, pass: Int, out: Path): Unit = ()
}

/** Registry queries over the generated tables: compose is
  * `SparkEntry.queries(name)(spark, dir)`. */
final class Queries(val name: String, names: Seq[String], data: String) extends Workload {
  def ops(spark: SparkSession, pass: Int): Seq[Op] =
    names.map(n => Op(n, () => Some(SparkEntry.queries(n)(spark, data))))

  def checkFrame(op: String, df: DataFrame, out: Path): Main.Rec = {
    df.write.mode("overwrite").parquet(out.resolve("results").resolve(op).toString)
    Map("oracle" -> SparkEntry.oracleSql.get(op))
  }
}

object Queries {
  val relational = Seq("b_join", "b_triple_join", "q_agg", "q_filter")
  val curation = Seq("q_shared_spans", "q_textstats", "q_langid")
}

/** Writes beside reads on the lake: each pass builds a fresh lake from
  * the generated `orders` slices (a commit and an append), rewrites it
  * row by row (delete, merge), reads it back every way the API offers,
  * then vacuums. The slice boundary and key ranges come from the
  * generator's lake.properties. */
final class Lake(data: String, work: Path) extends Workload {
  val name = "lake"
  private val p = new Properties()
  locally {
    val in = new FileInputStream(s"$data/lake.properties")
    try p.load(in) finally in.close()
  }
  private def long(k: String): Long = p.getProperty(k).trim.toLong
  private def slice(s: SparkSession, f: String): DataFrame = s.read.parquet(s"$data/$f.parquet")
  private val inputs = Seq("slice0", "slice1", "merge")
  private val inputBytes = inputs.map(f => Files.size(Paths.get(s"$data/$f.parquet"))).sum
  private val key = col("o_orderkey")
  private def between(lo: String, hi: String) = key.between(long(lo), long(hi))

  private def lakeDir(pass: Int) = work.resolve(s"lake-$pass")
  private def checkpointDir(pass: Int) = work.resolve(s"consumer-$pass")
  // what the current pass's row-level ops and consumer saw
  private var rewritten = 0
  private var carried = 0
  private var consumedRows = -1L

  def ops(spark: SparkSession, pass: Int): Seq[Op] = {
    val dir = lakeDir(pass).toString
    rewritten = 0
    carried = 0
    consumedRows = -1L
    def write(name: String)(f: => Any) = Op(name, () => { f; None })
    def rowOp(name: String)(f: => (Long, Int, Int)) =
      Op(name, () => { val (_, re, ca) = f; rewritten += re; carried += ca; None })
    def read(name: String)(f: => DataFrame) = Op(name, () => Some(f))
    val stats = Seq("o_orderkey")
    Seq(
      write("commit")(LakeVersions.commit(spark, dir, slice(spark, "slice0"), statsCols = stats)),
      write("append")(LakeVersions.commit(spark, dir, slice(spark, "slice1"), statsCols = stats)),
      rowOp("delete_where")(LakeVersions.deleteWhere(spark, dir,
        between("delete_lo", "delete_hi"))),
      rowOp("merge_into")(LakeVersions.mergeInto(spark, dir, slice(spark, "merge"),
        Seq("o_orderkey"))),
      read("read_pinned")(LakeVersions.read(spark, dir, Some(2L))),
      read("read_pruned")(LakeVersions.readPruned(spark, dir,
        Seq(("o_orderkey", long("prune_lo"), long("prune_hi"))))
        .filter(between("prune_lo", "prune_hi"))),
      read("appends_between")(LakeVersions.appendsBetween(spark, dir, 1L, 2L)),
      Op("consume_appends", () => {
        LakeVersions.consumeAppends(spark, dir, checkpointDir(pass).toString) { df =>
          consumedRows = df.count()
        }
        None
      }),
      write("vacuum")(LakeVersions.vacuum(spark, dir, keepVersions = 2, olderThanMs = 0L)))
  }

  private def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  private def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  override def afterPass(pass: Int): Main.Rec = {
    val facts = Map(
      "space_amp" -> bytesUnder(lakeDir(pass)).toDouble / inputBytes,
      "rewritten" -> rewritten, "carried" -> carried, "consumed_rows" -> consumedRows)
    delete(lakeDir(pass))
    delete(checkpointDir(pass))
    facts
  }

  def checkFrame(op: String, df: DataFrame, out: Path): Main.Rec =
    Map("rows" -> df.count())

  override def finishCheck(spark: SparkSession, pass: Int, out: Path): Unit =
    LakeVersions.read(spark, lakeDir(pass).toString).write.mode("overwrite")
      .parquet(out.resolve("results").resolve("lake_final").toString)
}
