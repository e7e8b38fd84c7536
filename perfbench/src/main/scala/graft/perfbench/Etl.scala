package graft.perfbench

import java.io.File

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.Try

import org.apache.spark.sql.SparkSession

import graft.etl.Pipeline
import graft.gold.Materializer
import graft.model.ServiceSpec.DateRange
import graft.model.{LoadMode, ServiceSpec}
import graft.ranges.Ranges

/** The `etl_refresh` workload over one seeded fixture set.
  *
  * Set-up loads every `ServiceSpec.serviceMap` table into an empty
  * warehouse with `Pipeline.runAll`, which also fires the three gold
  * triggers. One op is the reference's recent refresh over that
  * warehouse: each incremental table reloads the 8 days ending at a
  * seeded anchor inside its own date span, the full-truncate tables
  * reload, and gold is rebuilt.
  */
final class Etl(fixtures: String, seed: Long, cores: Int, shape: Fixtures.Shape,
    generated: Fixtures.Generated) {

  private val specs = ServiceSpec.serviceMap

  /** The refresh window of each incremental table: 8 days ending at an
    * anchor drawn from the seed inside that table's span.
    */
  val windows: Map[String, DateRange] = {
    val rnd = new java.util.SplittableRandom(seed ^ 0xa11c0de5L)
    Fixtures.spans(shape).map { case (t, start, end) =>
      val first = start.plusDays(7)
      val anchor = first.plusDays(rnd.nextLong(end.toEpochDay - first.toEpochDay + 1))
      t -> Ranges.refreshWindow(anchor)
    }.toMap
  }

  /** Rows a refresh lands in raw: the full-truncate tables plus each
    * incremental table's window.
    */
  val rowsLanded: Long = specs.map { s =>
    if (s.loadMode == LoadMode.FullTruncate) generated.rows(s.name)
    else {
      val w = windows(s.name)
      generated.days(s.name).collect {
        case (d, n) if !d.isBefore(w.start) && !d.isAfter(w.end) => n
      }.sum
    }
  }.sum

  def backfill(s: SparkSession, wh: String): Map[String, Try[Pipeline#TableResult]] =
    new Pipeline(s, fixtures, wh).runAll(specs, parallelism = cores)

  /** One refresh, tables concurrently on `cores` threads as `runAll`
    * runs them, each through `runTable` with its own window.
    */
  def refresh(s: SparkSession, wh: String): Map[String, Try[Pipeline#TableResult]] = {
    val p = new Pipeline(s, fixtures, wh)
    Parallel.map(specs, cores)(spec => spec.name -> Try(p.runTable(spec, windows.get(spec.name))))
      .toMap
  }

  /** The same refresh, one table at a time, returning each table's
    * wall-clock span (epoch ms) for the layer accounting.
    */
  def sequential(s: SparkSession, wh: String)
      : Seq[(String, Stats.Span, Try[Pipeline#TableResult])] = {
    val p = new Pipeline(s, fixtures, wh)
    specs.map { spec =>
      s.sparkContext.setLocalProperty("spark.jobGroup.id", s"table:${spec.name}")
      val t0 = System.currentTimeMillis()
      val r = Try(p.runTable(spec, windows.get(spec.name)))
      val span = Stats.Span(t0, System.currentTimeMillis())
      s.sparkContext.setLocalProperty("spark.jobGroup.id", null)
      (spec.name, span, r)
    }
  }

  private val goldOf: Map[String, Materializer.GoldSpec] =
    ServiceSpec.triggerMap.map { case (raw, g) => raw -> Materializer.goldSpecs.find(_.name == g).get }

  /** Tables that threw, or whose raw row count differs from the source's. */
  def failures(results: Map[String, Try[Pipeline#TableResult]]): Seq[String] =
    results.toSeq.flatMap { case (t, r) =>
      r.fold(e => Seq(s"$t threw ${e.getClass.getSimpleName}: ${e.getMessage}"), res =>
        if (res.rowsLoaded == generated.rows(t)) Nil
        else Seq(s"$t raw rows ${res.rowsLoaded} != source ${generated.rows(t)}"))
    }

  /** Output checks after a backfill or refresh; returns the failures.
    * Raw row counts must equal the source's, gold row counts the raw
    * table's, and each partitioned table must hold one partition per
    * distinct source day.
    */
  def check(s: SparkSession, wh: String,
      results: Map[String, Try[Pipeline#TableResult]]): Seq[String] = {
    val failures = Seq.newBuilder[String] ++= this.failures(results)
    val goldRows = Parallel.map(goldOf.toSeq, cores) { case (raw, g) =>
      raw -> Try(s.read.parquet(s"$wh/gold/${g.name}").count()).getOrElse(-1L)
    }.toMap
    goldOf.foreach { case (raw, g) =>
      if (goldRows(raw) != generated.rows(raw))
        failures += s"${g.name} rows ${goldRows(raw)} != raw ${generated.rows(raw)}"
      val days = generated.days(raw).size
      Seq(s"$wh/raw/$raw", s"$wh/gold/${g.name}").foreach { dir =>
        val parts = Files.partitionDirs(new File(dir))
        if (parts != days) failures += s"$dir has $parts partitions, source has $days days"
      }
    }
    failures.result()
  }

  /** Every raw and gold table's order-insensitive fingerprint. */
  def fingerprints(s: SparkSession, wh: String): Map[String, String] = {
    val tables = specs.map(t => s"raw/${t.name}") ++ goldOf.values.map(g => s"gold/${g.name}")
    Parallel.map(tables, cores)(t => t -> Fingerprint.of(s.read.parquet(s"$wh/$t"))).toMap
  }
}

object Parallel {

  /** `xs.map(f)` on `threads` threads, in order; Spark runs the jobs the
    * calls submit side by side.
    */
  def map[A, B](xs: Seq[A], threads: Int)(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(xs)(x => Future(f(x))), Duration(10, "min"))
    finally pool.shutdown()
  }
}

/** Small filesystem helpers for the benchmark's own directories. */
object Files {
  /** Copy the directory tree `from` to `to`; returns `to`. */
  def copy(from: File, to: File): File = {
    val src = from.toPath
    walk(from).foreach { f =>
      val dst = to.toPath.resolve(src.relativize(f.toPath))
      java.nio.file.Files.createDirectories(dst.getParent)
      java.nio.file.Files.copy(f.toPath, dst)
    }
    to
  }

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)

  /** (files, bytes) of the Parquet data files under `dir`. */
  def parquetFiles(dir: File): (Long, Long) = {
    val fs = walk(dir).filter(_.getName.endsWith(".parquet"))
    (fs.size.toLong, fs.map(_.length).sum)
  }

  /** Hive-style `col=value` directories directly under `dir`. */
  def partitionDirs(dir: File): Int =
    Option(dir.listFiles()).toSeq.flatten.count(f => f.isDirectory && f.getName.contains("="))

  /** SHA-256 over the Parquet files under `dir`, in path order, so a run
    * records exactly which inputs it read.
    */
  def fingerprint(dir: File): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    walk(dir).filter(_.getName.endsWith(".parquet")).sortBy(_.getPath).foreach { f =>
      md.update(f.getParentFile.getName.getBytes("UTF-8"))
      md.update(java.nio.file.Files.readAllBytes(f.toPath))
    }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }
}

/** Order-insensitive fingerprint of a result: row count plus two
  * row-hash aggregates over a canonical JSON rendering of each row, with
  * top-level doubles rounded so harmless float noise does not count.
  */
object Fingerprint {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types.{DoubleType, FloatType}

  def of(df: DataFrame): String = {
    val cols = df.schema.fields.toSeq.sortBy(_.name).map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name).cast("double"), 6).as(f.name)
        case _ => col(f.name)
      }
    }
    val h = xxhash64(to_json(struct(cols: _*)))
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(pmod(col("h"), lit(2147483647L))), bit_xor(col("h")))
      .collect()(0)
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}:${Option(r.get(2)).getOrElse(0)}"
  }
}
