package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Bench
import graft.ops.{Agreement, DedupGraph, RatingInterp, SpatialJoin, TextOps}
import graft.pipeline.{Inundate, Snapshots}
import graft.synth.Synth

final class CheckFailed(msg: String) extends Exception(msg)

/** One closed-loop client's unit of work over seeded parquet inputs. */
trait Workload {
  def name: String

  /** Write the seeded inputs under `dir` as parquet, derived from the
    * fixture tables in `data` (the engine's sf0.1 `lineitem` keys and
    * `documents`). */
  def generate(data: String, dir: Path): Unit

  /** Operations over the generated inputs or a slice of them, before
    * timing starts. */
  def warmUp(): Unit

  /** Pages (for `dedup`: corpus documents) operation `i` processes. */
  def units(i: Int): Long

  /** One operation, called through the engine's public functions as a user
    * would call them. Returns a digest of its output. */
  def run(i: Int): Seq[Long]

  /** The same operation with each layer's output materialised inside its
    * own span before the next layer's call. Returns the same digest. */
  def runTraced(i: Int, t: Tracer): Seq[Long]

  /** Throws [[CheckFailed]] when the output of operation `i` is wrong. */
  def check(i: Int, out: Seq[Long]): Unit

  /** Operations whose digests must be equal share a key. */
  def outputKey(i: Int): String = "op"

  /** True when the run may end after operation `i` (a unit of work that
    * spans several operations must finish). */
  def mayStopAfter(i: Int): Boolean = true
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long, cores: Int): Workload = name match {
    case "inundate" => new InundateLoad(spark, seed, cores)
    case "crawl_increment" => new CrawlLoad(spark, seed, cores)
    case "dedup" => new DedupLoad(spark, seed)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Call a layer, then cache and materialise its output. The call alone
    * only builds a plan; its time goes on the open span as `plan_s`, the
    * output's row count as `rows`. */
  def keep(call: => DataFrame, t: Tracer): DataFrame = {
    val t0 = System.nanoTime()
    val df = call
    t.count("plan_s", (System.nanoTime() - t0) / 1e9)
    val c = df.cache()
    t.count("rows", c.count().toDouble)
    c
  }

  /** Seeded draw, independent per `stream` so adding a draw to one input
    * does not move another. */
  def draw(seed: Long, stream: Int): java.util.SplittableRandom =
    new java.util.SplittableRandom(seed * 1000003L + stream)

  def expect(cond: Boolean, msg: => String): Unit = if (!cond) throw new CheckFailed(msg)
}

/** The flagship map over one page table: the fixture's lineitem pid rows
  * exploded ×[[Mult]] (`Bench.scaledPoints`), geocoded, joined to
  * catchments, staged, mosaicked and scored, as `Bench.flagship` does, in
  * one action. */
final class InundateLoad(spark: SparkSession, seed: Long, cores: Int) extends Workload {
  import Workload._
  val name = "inundate"
  val Mult = 8
  private var dir: String = _
  private var pages = 0L

  def units(i: Int): Long = pages

  def generate(data: String, d: Path): Unit = {
    dir = d.toString
    // the seed shifts the orderkeys, so the pids; every pid (orderkeys are
    // below 150k) stays below the 50M stride scaledPoints adds per copy
    val shift = draw(seed, 1).nextLong(6000000L)
    spark.read.parquet(s"$data/lineitem_keys.parquet")
      .select((col("l_orderkey") + shift).as("l_orderkey"), col("l_linenumber"))
      .write.parquet(s"$dir/lineitem.parquet")
    pages = spark.read.parquet(s"$dir/lineitem.parquet").count() * Mult
  }

  // two actions: after one, the JIT is still compiling and the first
  // measured actions run slower than the rest
  def warmUp(): Unit = (1 to 2).foreach(_ => run(0))

  private def points(m: Int): DataFrame = Bench.scaledPoints(spark, dir, m, cores * 3)

  private def mosaicOf(pts: DataFrame): DataFrame = Inundate.mosaic(Inundate.tiles(spark, pts))

  /** tn, fn, fp, tp, masked cells, and pages in the mosaic. */
  private def contingency(mosaic: DataFrame): Seq[Long] = {
    val agr = Agreement.withMaskFlag(spark, mosaic).select(
      when(col("mskd") === 1, lit(4))
        .otherwise((col("depth_max") > 0).cast("int") * 2 + Agreement.benchWet(col("cell")))
        .as("agreement"),
      col("n_points"))
    val r = agr.agg(
      count(when(col("agreement") === 0, 1)), count(when(col("agreement") === 1, 1)),
      count(when(col("agreement") === 2, 1)), count(when(col("agreement") === 3, 1)),
      count(when(col("agreement") === 4, 1)), sum(col("n_points"))).collect()(0)
    (0 until 6).map(r.getLong)
  }

  def run(i: Int): Seq[Long] = contingency(mosaicOf(points(Mult)))

  def runTraced(i: Int, t: Tracer): Seq[Long] = {
    val pts = t.span("synth.withGeo", i)(keep(points(Mult), t))
    t.span("probe.candidates", i, "probe") {
      // broadcast-join candidates before the PIP test: the engine folds PIP
      // into the join condition, so no operator reports this count
      val perCell = Synth.catchmentCover(spark).groupBy(col("ccell")).agg(count(lit(1)).as("n"))
      t.count("candidates", pts.join(broadcast(perCell), "ccell").agg(sum(col("n")))
        .collect()(0).getLong(0).toDouble)
      t.count("pages", pages.toDouble)
    }
    val tiles = t.span("pipeline.Inundate.tiles", i) {
      // cached under the same plans Inundate.tiles builds, so the tiles
      // call below reads them instead of recomputing its children
      val assigned = t.span("ops.SpatialJoin.assign", i)(keep(SpatialJoin.assign(spark, pts), t))
      t.span("ops.RatingInterp.stages", i)(
        keep(RatingInterp.stages(Synth.hydrotable(spark), Synth.forecast(spark)), t))
      val out = keep(Inundate.tiles(spark, pts), t)
      assigned.unpersist()
      pts.unpersist()
      out
    }
    val mosaic = t.span("pipeline.Inundate.mosaic", i)(keep(Inundate.mosaic(tiles), t))
    tiles.unpersist()
    t.span("ops.Agreement.agreement", i)(contingency(mosaic))
  }

  /** Pages outside lake catchments, from the catchment grid's closed form:
    * lake catchments have no rating curve, so their pages leave no tile. */
  private lazy val expectedPagesOut: Long = {
    val pid = col("pid")
    val hydroid = floor((Synth.latCol(pid) + 90.0) / Synth.CatH) * Synth.CatCols +
      floor((Synth.lngCol(pid) + 180.0) / Synth.CatW)
    points(Mult).filter(hydroid % 97 =!= 0).count()
  }

  def check(i: Int, out: Seq[Long]): Unit = {
    expect(out(5) == expectedPagesOut,
      s"pages out ${out(5)} != $expectedPagesOut of $pages pages in outside lake catchments")
    expect(out.take(5).forall(_ >= 0) && out.take(5).sum > 0, s"empty contingency table $out")
  }
}

/** Small disjoint page batches, each committed as one snapshot partition
  * before the next is sent. A round commits [[Batches]] batches into a
  * fresh table; the run ends on a round boundary. */
final class CrawlLoad(spark: SparkSession, seed: Long, cores: Int) extends Workload {
  import Workload._
  val name = "crawl_increment"
  val Batches = 10
  /** Orderkeys per batch: about 24 k lineitem rows, so 24 k pages. */
  val BatchKeys = 6000L
  private var dir: String = _
  private var table: String = _
  private var committedRows = 0L
  private var batchPages: Map[Int, Long] = Map.empty

  def units(i: Int): Long = batchPages(i % Batches)

  def generate(data: String, d: Path): Unit = {
    dir = d.toString
    // batch b is the fixture's lineitem rows of orderkeys [b, b+1)·BatchKeys,
    // pid = l_orderkey·8 + l_linenumber as in Synth.points, shifted by the seed
    val shift = draw(seed, 2).nextLong(1L << 40)
    spark.read.parquet(s"$data/lineitem_keys.parquet")
      .select((col("l_orderkey") / BatchKeys).cast("int").as("batch"),
        (col("l_orderkey") * 8 + col("l_linenumber") + shift).as("pid"))
      .filter(col("batch") < Batches)
      .repartition(col("batch"))
      .write.partitionBy("batch").parquet(s"$dir/pages")
    batchPages = spark.read.parquet(s"$dir/pages").groupBy("batch").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
  }

  def warmUp(): Unit = {
    table = s"$dir/warm"
    (0 until 3).foreach(commit)
  }

  private def pagesOf(b: Int): DataFrame = spark.read.parquet(s"$dir/pages/batch=$b")
  private def part(b: Int): String = f"b$b%04d"

  private def startBatch(i: Int): Int = {
    val b = i % Batches
    if (b == 0) { table = s"$dir/snap-${i / Batches}"; committedRows = 0L }
    b
  }

  private def evaluated(b: Int, pts: DataFrame): DataFrame =
    Agreement.agreement(spark, Inundate.mosaic(Inundate.tiles(spark, pts)))
      .withColumn("batch", lit(part(b)))

  /** Commit batch `b`; returns when its partition is in the manifest. */
  private def commit(b: Int): Seq[Long] = {
    val lineage = Snapshots.writeResumable(spark, evaluated(b, Synth.withGeo(pagesOf(b))), table, "batch")
    expect(Snapshots.committedPartitions(table).contains(part(b)), s"${part(b)} not in the manifest")
    lineage.map(l => Seq(l.rows, l.xor)).headOption.getOrElse(Nil)
  }

  def run(i: Int): Seq[Long] = commit(startBatch(i))

  def runTraced(i: Int, t: Tracer): Seq[Long] = {
    val b = startBatch(i)
    val pts = t.span("synth.withGeo", i)(keep(Synth.withGeo(pagesOf(b)), t))
    val tiles = t.span("pipeline.Inundate.tiles", i) {
      t.span("ops.SpatialJoin.assign", i)(keep(SpatialJoin.assign(spark, pts), t))
      t.span("ops.RatingInterp.stages", i)(
        keep(RatingInterp.stages(Synth.hydrotable(spark), Synth.forecast(spark)), t))
      keep(Inundate.tiles(spark, pts), t)
    }
    val mosaic = t.span("pipeline.Inundate.mosaic", i)(keep(Inundate.mosaic(tiles), t))
    val agr = t.span("ops.Agreement.agreement", i)(
      keep(Agreement.agreement(spark, mosaic).withColumn("batch", lit(part(b))), t))
    val manifestParts = Snapshots.committedPartitions(table).size
    val lineage = t.span("pipeline.Snapshots.writeResumable", i) {
      t.count("manifest_parts", manifestParts.toDouble)
      Snapshots.writeResumable(spark, agr, table, "batch")
    }
    t.span("probe.commit", i, "probe") {
      val files = Files.list(java.nio.file.Paths.get(table, s"batch=${part(b)}")).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq
      t.count("files", files.size.toDouble)
      t.count("bytes", files.map(Files.size).sum.toDouble)
      t.count("rows", lineage.map(_.rows).sum.toDouble)
    }
    t.span("pipeline.Snapshots.committedPartitions", i) {
      expect(Snapshots.committedPartitions(table).contains(part(b)), s"${part(b)} not in the manifest")
    }
    lineage.map(l => Seq(l.rows, l.xor)).headOption.getOrElse(Nil)
  }

  def check(i: Int, out: Seq[Long]): Unit = {
    expect(out.size == 2 && out.head > 0, s"batch ${i % Batches} committed no lineage row")
    committedRows += out.head
    if (mayStopAfter(i)) {
      val parts = Snapshots.committedPartitions(table)
      expect(parts.size == Batches, s"manifest holds ${parts.size} partitions, expected $Batches")
      val read = Snapshots.readTable(spark, table).count()
      val lineageRows = Snapshots.lineage(spark, table).agg(sum(col("rows"))).collect()(0).getLong(0)
      expect(read == lineageRows && read == committedRows,
        s"table holds $read rows, lineage $lineageRows, commits $committedRows")
      Snapshots.deleteRecursively(java.nio.file.Paths.get(table))
    }
  }

  override def outputKey(i: Int): String = part(i % Batches)
  override def mayStopAfter(i: Int): Boolean = i % Batches == Batches - 1
}

/** Near-duplicate curation of a sharded web-text corpus: the seed picks
  * [[Shards]] of `Bench.scaledCorpus`'s 312 affine shards; one operation is
  * one forced call each to curate, dupComponents and incrementalDedup. */
final class DedupLoad(spark: SparkSession, seed: Long) extends Workload {
  import Workload._
  val name = "dedup"
  val Shards = 1
  val ShardStride = 100000000L
  private var corpus: String = _
  private var docs = 0L
  private var split = 0L
  private var exactClones: Set[Long] = Set.empty

  def units(i: Int): Long = docs

  def generate(data: String, d: Path): Unit = {
    val rng = draw(seed, 3)
    val shards = Iterator.continually(rng.nextInt(312).toLong).distinct.take(Shards).toSeq.sorted
    corpus = s"$d/corpus"
    shards.map(j => shard(Synth.corpus(spark, data), j.toInt)).reduce(_ unionByName _)
      .write.parquet(corpus)
    val c = spark.read.parquet(corpus)
    docs = c.count()
    // base = the lowest shard's originals; batch = its clones and every
    // other shard, so the verify join sees real near-duplicate candidates
    split = shards.head * ShardStride + 1000000L
    exactClones = c.filter(col("doc_id") % ShardStride >= 2000000L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
  }

  // the whole trio: after a trio over a slice, the first measured trios
  // still ran slower than the rest while the JIT caught up
  def warmUp(): Unit = run(0)

  private def input: DataFrame = spark.read.parquet(corpus)

  /** Shard `j` of `Bench.scaledCorpus`: the base corpus with ids offset by
    * j·10⁸ and letters through the j-th affine map x → a·x + b mod 26.
    * Building only the drawn shards avoids scaledCorpus's 312-way union. */
  private def shard(base: DataFrame, j: Int): DataFrame = {
    val units = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    val perm = (0 until 26).map(i => alpha((units(j / 26) * i + j % 26) % 26)).mkString
    base.select((col("doc_id") + lit(j * ShardStride)).as("doc_id"),
      translate(col("text"), alpha, perm).as("text"), col("lang"))
  }

  /** Outputs of the last operation: curate's and dupComponents' rows. */
  private var last: (Array[Row], Array[Row]) = (Array.empty, Array.empty)

  private def digest(cur: Array[Row], comp: Array[Row], inc: Array[Row]): Seq[Long] = {
    last = (cur, comp)
    Seq(cur.length.toLong, comp.length.toLong, inc.length.toLong,
      inc.count(_.getInt(3) == 1).toLong)
  }

  def run(i: Int): Seq[Long] = {
    val c = input
    digest(TextOps.curate(c).collect(), DedupGraph.dupComponents(c).collect(),
      TextOps.incrementalDedup(c, split).collect())
  }

  def runTraced(i: Int, t: Tracer): Seq[Long] = {
    val c = input
    val cur = t.span("ops.TextOps.curate", i) {
      t.span("ops.TextOps.lshBands", i)(keep(TextOps.lshBands(c), t))
      t.span("ops.TextOps.lshPairs", i)(keep(TextOps.lshPairs(c), t))
      t.span("ops.TextOps.ngramJaccard", i) {
        val j = keep(TextOps.ngramJaccard(c), t)
        t.count("verified", j.filter(col("jaccard") >= 0.9).count().toDouble)
      }
      TextOps.curate(c).collect()
    }
    val comp = t.span("ops.DedupGraph.dupComponents", i)(DedupGraph.dupComponents(c).collect())
    val inc = t.span("ops.TextOps.incrementalDedup", i) {
      t.span("ops.TextOps.shingleHashes", i)(keep(TextOps.shingleHashes(c), t))
      TextOps.incrementalDedup(c, split).collect()
    }
    t.span("probe.docs", i, "probe")(t.count("docs", docs.toDouble))
    digest(cur, comp, inc)
  }

  def check(i: Int, out: Seq[Long]): Unit = {
    val kept = last._1.map(_.getLong(0)).toSet
    val labels = last._2.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val survived = exactClones.filter(kept)
    expect(survived.isEmpty, s"${survived.size} exact clones survived curate, e.g. ${survived.head}")
    val apart = exactClones.filter(id => labels.get(id).isEmpty ||
      labels.get(id) != labels.get(id - 2000000L))
    expect(apart.isEmpty, s"${apart.size} exact clones not labelled with their original, e.g. ${apart.head}")
  }
}
