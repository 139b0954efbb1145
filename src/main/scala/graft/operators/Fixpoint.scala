package graft.operators

import graft.sources.SnapTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftshim.Shim

/**
 * The one driver loop behind graft's iterative jobs: the hash-min and
 * star-contraction component labelers ([[Dedup]]), integer PageRank
 * ([[WebGraph]]) and the conflation retry matcher ([[FixpointMatcher]]).
 *
 * A loop is a round-0 table, a `step` from generation k to k+1 and a
 * `done` test that reads generations k and k+1. The loop owns what each
 * caller would otherwise repeat:
 *
 *  - lineage truncation: every generation is materialized before the next
 *    step plans on it (otherwise round k's plan embeds rounds 1..k-1 and
 *    the optimizer re-walks an ever-growing tree);
 *  - release: generation k's blocks are dropped once k+1 is materialized
 *    and `done` has read both, so a run holds one generation at a time;
 *  - the warning when `maxRounds` steps reach no fixpoint;
 *  - for the [[Durable]] store, stage → probe → publish → resume.
 *
 * A generation's row count is lazy: `done` pays for it only when it reads
 * [[Gen.rows]] (one `count()` under [[Local]], free under [[Durable]]).
 */
object Fixpoint {

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.operators.Fixpoint")

  /** Where the generations live. */
  sealed trait Store

  /** Each generation is an eager `localCheckpoint` on the executors: no
    * write, but a lost executor loses the loop state with it. */
  case object Local extends Store

  /**
   * Each generation is one atomic [[SnapTable]] snapshot under `root`,
   * with its round state in the manifest summary
   * (`round=k rows=n converged=b`). The step's output is staged, `done`
   * probes the staged files (their stats give the row count for free),
   * then the manifest is published, so the durable write IS the
   * materialization. A call resumes at the newest published generation; a
   * fresh root publishes the round-0 table as v1. A driver death at round
   * k resumes at round k, not round 0, and the snapshot history audits
   * every round until [[SnapTable.expire]]. A crash between stage and
   * publish orphans invisible files only.
   *
   * `roundsThisRun` bounds the steps one call executes: a driver working
   * in lease windows calls again until the summary reads `converged=true`,
   * and specs simulate a crash after every round with it.
   */
  final case class Durable(root: String, roundsThisRun: Int = Int.MaxValue) extends Store

  /** One generation: its table, its round (the round-0 table is 0) and its
    * row count, computed on first read. */
  final class Gen(val df: DataFrame, val round: Int, countRows: => Long) {
    lazy val rows: Long = countRows
  }

  /** An eager executor-local copy of `df`, for a loop's input or result
    * that later plans read more than once; pair it with [[release]]. */
  def materialize(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Drop the blocks behind [[materialize]]d tables. Only safe once no
    * live plan still reads them: a local checkpoint has no lineage to
    * recompute from. No-op on anything else. */
  def release(dfs: DataFrame*): Unit = dfs.foreach(Shim.unpersistLocalCheckpoint)

  private val Summary = raw"round=(\d+) rows=(\d+) converged=(true|false)".r

  /**
   * Run `step` from `init` until `done(previous, next)` holds or
   * `maxRounds` steps have run, and return the last generation's table.
   * `done` is also asked once of the round-0 table, with no previous
   * generation. `what` names the loop in the no-fixpoint warning.
   */
  def iterate(what: String, init: DataFrame, maxRounds: Int, store: Store = Local)(
      step: Gen => DataFrame)(done: (Option[Gen], Gen) => Boolean): DataFrame = {
    val spark = init.sparkSession
    // materialize round `round`, let `done` read it against `prev`, and
    // only then retire `prev`
    def advance(df: DataFrame, round: Int, prev: Option[Gen]): (Gen, Boolean) =
      store match {
        case Local =>
          val m = materialize(df)
          val next = new Gen(m, round, m.count())
          val converged = done(prev, next)
          prev.foreach(p => release(p.df))
          (next, converged)
        case Durable(root, _) =>
          val files = SnapTable.stage(df, root)
          val rows = files.map(_.rows).sum
          val staged =
            if (files.isEmpty) df.limit(0)
            else spark.read.schema(df.schema).parquet(files.map(_.path): _*)
          val converged = done(prev, new Gen(staged, round, rows))
          SnapTable.publish(spark, root, "overwrite", df.schema.toDDL, files,
            summary = s"round=$round rows=$rows converged=$converged")
          (new Gen(SnapTable.scan(spark, root), round, rows), converged)
      }
    val (resumed, budget) = store match {
      case Local => (None, Int.MaxValue)
      case Durable(root, roundsThisRun) =>
        val head = SnapTable.currentVersion(spark, root).map { v =>
          val summary = SnapTable.manifest(spark, root, v).summary
          val m = Summary.findFirstMatchIn(summary).getOrElse(
            throw new IllegalArgumentException(
              s"$root is not a Fixpoint state table (summary: '$summary')"))
          (new Gen(SnapTable.scan(spark, root), m.group(1).toInt, m.group(2).toLong),
            m.group(3).toBoolean)
        }
        (head, roundsThisRun)
    }
    var (cur, converged) = resumed.getOrElse(advance(init, 0, None))
    var executed = 0
    while (!converged && cur.round < maxRounds && executed < budget) {
      val (next, c) = advance(step(cur), cur.round + 1, Some(cur))
      cur = next
      converged = c
      executed += 1
    }
    if (!converged && cur.round >= maxRounds)
      log.warn(s"$what: no fixpoint after $maxRounds rounds; returning the last generation")
    cur.df
  }
}
