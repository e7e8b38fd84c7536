package graft.perfbench

import java.io.File

import scala.io.Source

/** The `ops_mix` workload: a sample of `SparkEntry.queries` stratified
  * by family (the name up to its first `_`), one query from every family
  * of at least [[MinFamily]] queries, run as a closed loop with one
  * client. One op is `fn(spark, fixtures).count()`.
  *
  * The sample is drawn once, with [[SampleSeed]], so every run measures
  * the same queries; the workload seed sets the order the loop runs them
  * in, pass by pass. Queries are drawn only from the expected-fingerprint
  * file, which lists every query that gives the same result at two
  * parallelisms on the fixed operator-mix fixtures (see
  * [[GenFingerprints]]).
  */
object OpsMix {

  /** Expected result of one query: its row count, and its fingerprint
    * when the result is deterministic enough to hash.
    */
  final case class Expected(rows: Long, fingerprint: Option[String])

  /** The fixture seed of the operator mix: the data stays fixed so the
    * expected results can be stored.
    */
  val FixtureSeed = 42L

  /** Queries never sampled, with the reason. A run may write only inside
    * its own directory.
    */
  val Unsampled: Map[String, String] = Map(
    "etl_pipeline_e2e" -> "writes its temporary warehouse to a fixed /tmp path")

  /** Seed of the one stratified draw every run uses. */
  val SampleSeed = 1L

  /** Families smaller than this are not sampled; the sample stays small
    * enough that its set-ups and passes fit one run.
    */
  val MinFamily = 34

  def family(name: String): String = name.takeWhile(_ != '_')

  /** One query from each family of at least [[MinFamily]] eligible
    * queries, sorted by name.
    */
  def sample(eligible: Seq[String]): Seq[String] = {
    val rnd = new scala.util.Random(SampleSeed)
    eligible.distinct.filterNot(Unsampled.contains).sorted.groupBy(family).toSeq.sortBy(_._1)
      .collect { case (_, names) if names.size >= MinFamily => rnd.shuffle(names).head }
      .sorted
  }

  /** The op order of each pass: `sample` shuffled by a generator seeded
    * with the workload seed.
    */
  def passes(sample: Seq[String], seed: Long): Iterator[Seq[String]] = {
    val rnd = new scala.util.Random(seed)
    Iterator.continually(rnd.shuffle(sample))
  }

  def readExpected(file: File): Map[String, Expected] = {
    val src = Source.fromFile(file, "UTF-8")
    try src.getLines().filterNot(l => l.isEmpty || l.startsWith("#")).map { l =>
      l.split('\t') match {
        case Array(name, rows, fp) => name -> Expected(rows.toLong, Some(fp).filter(_ != "-"))
        case _ => throw new IllegalArgumentException(s"bad fingerprint line: $l")
      }
    }.toMap
    finally src.close()
  }
}
