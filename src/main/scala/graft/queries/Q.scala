package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry entry: a named Spark query plus (when SQL-expressible) the
  * equivalent ANSI SQL the driver runs in DuckDB as a differential oracle.
  *
  * Contract notes (see the driver spec):
  *  - result column NAMES and TYPES must match the oracle exactly (the
  *    compare sorts columns by name and checks schema), so every computed
  *    column is aliased identically on both sides;
  *  - results must be deterministic — no `uuid()`, no floating-point
  *    accumulation orders that differ between engines. Double aggregates go
  *    through exact DECIMAL accumulation then one cast to DOUBLE; embedding
  *    math uses an explicitly sequential double fold that both engines
  *    reproduce bit-for-bit.
  *
  * `bench` is the ordered list of lines `graft.Bench` times for this
  * query's family: amortized build steps, comparators and the query's own
  * line ([[Phase.Self]]). The default is the query alone.
  */
final case class Q(
    name: String,
    doc: String,
    oracle: Option[String],
    run: (SparkSession, String) => DataFrame,
    bench: Seq[Phase] = Seq(Phase.Self)) {

  /** The family's bench lines with [[Phase.Self]] resolved to this query. */
  def benchLines: Seq[Phase] =
    bench.map(p => if (p eq Phase.Self) Phase(name, run) else p)
}

/** One timed bench line: its name and the frame it runs to completion. */
final case class Phase(name: String, run: (SparkSession, String) => DataFrame)

object Phase {

  /** Placeholder for the declaring query's own line. */
  val Self: Phase = Phase("<self>", (s, _) => s.emptyDataFrame)

  /** A build step: `f` runs for its side effects (a stored table, a
    * checkpointed artifact) and the line times it end to end.
    */
  def build(name: String)(f: (SparkSession, String) => Any): Phase =
    Phase(name, (s, d) => { f(s, d); s.emptyDataFrame })
}

object Q {
  /** Input-dir-keyed tag for scratch paths / table names, so concurrent
    * runs over different inputs (e.g. a verify at sf0.01 alongside a
    * bench at sf0.1) never collide on side-effect locations. md5-derived
    * (not String.hashCode, whose 32 bits collide easily). Two concurrent
    * runs over the SAME dir still share locations by design — the harness
    * runs its phases sequentially.
    */
  def scratchTag(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"${b & 0xff}%02x").mkString
}
