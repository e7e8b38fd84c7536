package graft.perfbench

import java.io.File

import scala.util.Try

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.io.ModelStore

/** Writes `ops_mix_expected.tsv`, the expected result of every query the
  * `ops_mix` workload may sample, on the fixed operator-mix fixtures:
  *
  *   `GenFingerprints --work <dir> --out <tsv> --dump <dir> --flat <dir>`
  *
  * Each query runs in two sessions at different shuffle parallelism.
  * A query that throws, or whose row count differs between the two, is
  * listed as excluded with the reason. A query whose row count agrees but
  * whose fingerprint does not is kept with its row count only. The
  * results of queries with a `SparkEntry.oracleSql` entry go to `--dump`,
  * and a flat copy of the fixtures to `--flat`, for
  * `perfbench/tools/fingerprints.py` to compare against DuckDB.
  */
object GenFingerprints {
  def main(args: Array[String]): Unit = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new File(m("work"))
    val dump = new File(m("dump"))
    val cores = Runtime.getRuntime.availableProcessors
    val spark = Main.session(cores, work)
    val fixtures = new File(work, "fixtures").getPath
    Fixtures.write(spark, fixtures, OpsMix.FixtureSeed, Fixtures.opsShape)
    Dump.flatCopy(new File(fixtures), new File(m("flat")))
    ModelStore.rootOverride = Some(new File(work, "models").getPath)
    val a = session(spark, cores)
    val b = session(spark, 2 * cores + 1)
    val oracle = SparkEntry.oracleSql
    val lines = SparkEntry.queries.toSeq.sortBy(_._1).map { case (q, fn) =>
      val t0 = System.nanoTime()
      val line = OpsMix.Unsampled.get(q).map(why => s"# excluded $q: $why").getOrElse {
        val ra = Try { val df = fn(a, fixtures); (df.count(), Fingerprint.of(df), df) }
        val rb = Try { val df = fn(b, fixtures); (df.count(), Fingerprint.of(df)) }
        (ra, rb) match {
          case (scala.util.Failure(e), _) => s"# excluded $q: throws ${msg(e)}"
          case (_, scala.util.Failure(e)) => s"# excluded $q: throws at other parallelism ${msg(e)}"
          case (scala.util.Success((na, _, _)), scala.util.Success((nb, _))) if na != nb =>
            s"# excluded $q: row count differs by parallelism ($na vs $nb)"
          case (scala.util.Success((n, fa, df)), scala.util.Success((_, fb))) =>
            if (oracle.contains(q))
              Try(df.coalesce(1).write.mode("overwrite").parquet(new File(dump, q).getPath))
            s"$q\t$n\t${if (fa == fb) fa else "-"}"
        }
      }
      System.err.println(f"[fingerprints] ${(System.nanoTime() - t0) / 1e9}%6.2f s  $line")
      line
    }
    val json = oracle.toSeq.sortBy(_._1).map { case (k, v) => s"${Dump.jstr(k)}: ${Dump.jstr(v)}" }
      .mkString("{", ",\n", "}")
    java.nio.file.Files.writeString(new File(dump, "oracle_sql.json").toPath, json)
    val header = Seq(
      "# Expected results of SparkEntry.queries on the ops_mix fixtures",
      s"# (Fixtures.opsShape, seed ${OpsMix.FixtureSeed}). Columns: query, rows, fingerprint",
      "# ('-' = result varies with parallelism, rows checked only).",
      "# Regenerate with perfbench/tools/fingerprints.py.")
    java.nio.file.Files.writeString(new File(m("out")).toPath,
      (header ++ lines).mkString("", "\n", "\n"))
    spark.stop()
  }

  private def session(spark: SparkSession, partitions: Int): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    s
  }

  private def msg(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse(""))
      .replaceAll("\\s+", " ").take(160)
}

/** Helpers for the fingerprint generator's DuckDB dump. */
object Dump {
  /** Copies `<dir>/<t>.parquet/part-*.parquet` to `<to>/<t>.parquet`. */
  def flatCopy(dir: File, to: File): Unit = {
    to.mkdirs()
    Option(dir.listFiles()).toSeq.flatten.filter(_.isDirectory).foreach { t =>
      Option(t.listFiles()).toSeq.flatten.find(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.copy(f.toPath, new File(to, t.getName).toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
  }

  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
    case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
}
