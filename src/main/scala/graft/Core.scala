package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** One engine capability: a named Spark query over a scale-factor
  * directory plus (when SQL-expressible) an equivalent DuckDB oracle.
  *
  * Every computed column is aliased identically in the Spark plan and
  * the oracle, every query ends in a deterministic total ORDER BY, and
  * no money/measure aggregation is done in raw floating point (decimal
  * accumulate, cast to double at the end) so both engines agree
  * bit-for-bit regardless of partitioning / merge order.
  *
  * `bench = false` leaves the query out of the bench set
  * ([[SparkEntry.benchNames]]): [[Bench]] does not time it and the
  * Harness `scale` mode does not run it unless named. Verify and the
  * plan dump still cover it. Left out are the queries whose time says
  * nothing about a scale path: single-feature SQL coverage (filters,
  * pivots, set ops, string functions), format round trips, the
  * all-pairs reference scans the banded paths are checked against
  * (`dedup_embed_cosine`, `ann_brute_topk`), and building blocks that
  * a benched pipeline already runs.
  */
final case class QueryDef(
    name: String,
    oracle: Option[String],
    build: (SparkSession, String) => DataFrame,
    bench: Boolean = true)

/** Parquet table loaders for the driver test data.
  *
  * Always a parquet scan — Catalyst prunes columns and pushes
  * predicates into the scan, which is what makes these plans survive a
  * 100 TB scale-up (the scan reads only the referenced columns).
  *
  * A bare `spark.read.parquet(path)` infers the schema from the file
  * footers, and that inference is a Spark job on every read. [[parquet]]
  * runs Spark's own inference once per file version and reads with
  * the schema it gave (`spark.read.schema(s).parquet(path)`, no job).
  * The memo keeps one entry per path. An entry holds for the version
  * it was inferred from: the (path, length, modification time) of
  * every leaf file under the path, and every set session conf whose
  * key contains `parquet` (`nanosAsLong`, `binaryAsString`, ...). A
  * rewritten file, an added or removed file, or a changed parquet conf
  * infers again and replaces the entry. Checking the version costs one
  * Hadoop listing of the path on the driver and no Spark job.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)` with the schema inferred once per file
    * version; see [[Tables]]. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schemaOf(spark, path)).parquet(path)

  private final case class Version(files: Seq[(String, Long, Long)], confs: Map[String, String])

  private val schemas = new java.util.concurrent.ConcurrentHashMap[String, (Version, StructType)]

  // the inference runs outside the map's locks: Par threads read
  // tables concurrently, and two misses on one path both infer and
  // put the same schema
  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val version = versionOf(spark, path)
    Option(schemas.get(path)).collect { case (`version`, schema) => schema }.getOrElse {
      val schema = spark.read.parquet(path).schema
      schemas.put(path, (version, schema))
      schema
    }
  }

  private def versionOf(spark: SparkSession, path: String): Version = {
    val p = new org.apache.hadoop.fs.Path(path)
    // a missing path has no files; the inference then fails with
    // Spark's own error and nothing is memoized
    val files = try {
      val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toVector.sorted
    } catch { case _: java.io.FileNotFoundException => Vector.empty }
    Version(files, spark.conf.getAll.filter(_._1.contains("parquet")))
  }

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")

  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark's vectorized
    * reader rejects; sessions set `spark.sql.legacy.parquet.nanosAsLong`
    * and we rebuild a microsecond TIMESTAMP_NTZ here (floor-truncation,
    * the same thing a native ns→µs read would do). */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    // (ts - pmod(ts, 1000)) div 1000 is exact floor division: `div`
    // alone truncates toward zero, which would round pre-epoch
    // nanos up instead of down
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts",
        expr("CAST(timestamp_micros((ts - pmod(ts, 1000)) div 1000) AS TIMESTAMP_NTZ)"))
    else raw
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Round-robin fan-out for frames whose SOURCE file grain caps scan
    * parallelism (opt guide §2.5: "one huge unsplittable file —
    * repartition immediately after the read"). A parquet row group is
    * the atomic scan unit, and the driver test tables are single-row-
    * group files, so every per-row map attached to their scan stage
    * (sigmoid gradients, md5 shingling, levenshtein verifies, ...)
    * runs as ONE task at any core count — measured: every ML-tier
    * gradient pass over the sf0.1 lineitem ran 1 real task with 31
    * cores idle (JobProfile, r14). One exchange of the PRUNED columns
    * (callers apply it after their projection — guide §2.3 "project
    * before the exchange") buys cores-way execution of all downstream
    * map work.
    *
    * Scale-adaptive, not a local[32] constant: the fan-out fires only
    * when the frame's source has FEWER FILES than the session's
    * default parallelism — a production multi-file table (or ScaleGen
    * multi-part dir) already scans wide and skips the exchange
    * entirely (`inputFiles` is plan metadata; no job). Row order is
    * round-robin with Spark's sort-before-repartition retry
    * determinism; every consumer downstream is merge-order-free by
    * the house discipline (SURVEY §5), which the sf/CPU-varied gates
    * prove. */
  def fanout(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    // Gate on the ACTUAL scan split count, not the file count (r15,
    // closing the r14 ADVICE item): parquet is splittable, so one
    // large multi-row-group file already scans wide and needs no
    // exchange — `df.rdd.getNumPartitions` reads the planned
    // FileSourceScan splits (maxPartitionBytes/openCost-derived,
    // planning metadata only, no job). The driver's single-row-group
    // test tables plan 1–3 splits and still fan out; a production
    // file set whose splits reach the session parallelism skips the
    // shuffle entirely.
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }
}

/** Overlap independent driver-side action chains (opt guide §2.6:
  * "Spark's scheduler happily runs several jobs at once inside one
  * application; actions are only sequential because your driver code
  * calls them sequentially"). The composed readout pipelines interleave
  * eager barriers ([[Small]] collects, localCheckpoint,
  * persist-materializing counts) with lazy frame building; running
  * each independent readout chain on its own thread turns the sum of
  * those barrier waits into their max.
  * Results are untouched — every chain computes exactly what it
  * computed serially (exact-arithmetic, merge-order-free by the house
  * discipline); only the submission order changes. The first failure
  * rethrows after all threads settle. */
object Par {
  def all[T](thunks: (() => T)*): IndexedSeq[T] = {
    if (thunks.sizeIs <= 1) return thunks.map(_()).toIndexedSeq
    val results = new Array[Any](thunks.size)
    val firstErr = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val threads = thunks.zipWithIndex.map { case (f, i) =>
      val t = new Thread(() => {
        try results(i) = f()
        catch { case e: Throwable => firstErr.compareAndSet(null, e) }
      }, s"graft-par-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach(_.join())
    Option(firstErr.get).foreach(e => throw e)
    results.toIndexedSeq.map(_.asInstanceOf[T])
  }

  def run2[A, B](a: => A, b: => B): (A, B) = {
    val r = all[Any](() => a, () => b)
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }

  def run3[A, B, C](a: => A, b: => B, c: => C): (A, B, C) = {
    val r = all[Any](() => a, () => b, () => c)
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B], r(2).asInstanceOf[C])
  }
}

/** A frame whose row count the code bounds by a stated constant (a
  * one-row aggregate, a decile grid, a loop's k centroids) is brought
  * to the driver once, not pinned as executor blocks: `Small(df,
  * bound, step)` collects `df`, `require`s at most `bound` rows (the
  * message names `step`) and returns the rows as a local frame with
  * exactly `df`'s schema, so nullability and decimal precision stay as
  * they were. Its consumers then read a `LocalRelation`: no block that
  * an executor loss could take, and no job to scan it. The collect's
  * job is labelled `<description>/<step>`, under the description the
  * caller's thread carries (the query name, in [[Harness.eachQuery]]). */
object Small {
  def apply(df: DataFrame, bound: Int, step: String): DataFrame =
    df.sparkSession.createDataFrame(rows(df, bound, step).toSeq.asJava, df.schema)

  /** The collected rows themselves, for a caller that folds them into
    * a literal or steps them in Scala. */
  def rows(df: DataFrame, bound: Int, step: String): Array[Row] = {
    val sc = df.sparkSession.sparkContext
    val label = Option(sc.getLocalProperty(Harness.JobDescription)).fold(step)(d => s"$d/$step")
    val rows = Harness.labelled(sc, label)(df.collect())
    require(rows.length <= bound, s"$step: ${rows.length} rows, bound $bound")
    rows
  }
}

/** Standard local session builder shared by every entry point
  * (Verify, Bench, the Harness modes, ScaleGen, Cli): UTC, AQE,
  * ns-as-long events read, graft extensions registered.
  * `SPARK_MASTER` overrides the local master for cluster submission. */
object Sessions {
  /** `allowMasterOverride` (Cli only) honors SPARK_MASTER for cluster
    * submission; the other entry points depend on driver-local paths
    * (Verify dumps, ScaleGen's data) and stay pinned to local[N]. */
  def local(cores: String, logLevel: String = "WARN",
      allowMasterOverride: Boolean = false): SparkSession = {
    val master = if (allowMasterOverride)
      sys.env.getOrElse("SPARK_MASTER", s"local[$cores]") else s"local[$cores]"
    val s = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // NOTE (r14, measured then reverted): lowering
      // spark.sql.files.openCostInBytes to 128 KB to raise nominal
      // scan splits was tried and A/B-measured — it cannot help here
      // (the test tables are single-ROW-GROUP parquet, so extra
      // splits are empty) and it regressed join-heavy plans
      // (graph_pagerank 6.3 s → 9.2 s min-of-2, same session).
      // Under-parallel small scans are fixed where it works instead:
      // Tables.fanout (explicit round-robin of the pruned projection)
      // at the heavy-map call sites.
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }
}

/** Portable deterministic building blocks computed identically by
  * Spark SQL and DuckDB, so LSH/minhash pipelines can be verified
  * bit-for-bit against the DuckDB oracle.
  *
  * The 60-bit hash takes the first 15 hex chars of md5 (both engines
  * agree on md5 of UTF-8 text) and reads them as an integer; 60 bits
  * always fits a signed 64-bit long.
  */
object Portable {
  /** Large positive micros offset, an exact multiple of a WEEK
    * (86400e6 · 7 · 400000 ≈ 7670 years), added to `epoch_us` before
    * any integer day/bin division: BIGINT `//` (DuckDB) and `div`
    * (Spark) both truncate toward ZERO, and `%` follows the dividend
    * sign in both — identical across engines, but ≠ floor/floor-mod
    * on pre-1970 (negative) epochs, so unshifted day binning would
    * label e.g. 1969-12-31T12:00 as Thursday. Shifting into the
    * positive range makes truncation == floor; the week multiple
    * preserves day-of-week. Covers timestamps back to ~5600 BCE. */
  val EpochWeekOffsetUs: Long = 86400000000L * 7L * 400000L

  /** Mersenne prime 2^31-1; minhash arithmetic stays under 2^62. */
  val P: Long = 2147483647L
  val NumHashes = 16
  val Bands = 4
  val RowsPerBand: Int = NumHashes / Bands // 4

  /** Fixed affine constants (Knuth multiplicative + Numerical Recipes
    * LCG increments), reduced mod P. Same literals are interpolated
    * into the oracle SQL, so both sides share them by construction. */
  val A: IndexedSeq[Long] = (0 until NumHashes).map(j => (j * 2654435761L + 1013904223L) % P)
  val B: IndexedSeq[Long] = (0 until NumHashes).map(j => (j * 805306457L + 12345L) % P)

  // ---- Spark side ----
  /** Decimal-exact sum surfaced as double: associative (merge-order
    * free) and identical in both engines — the required form for
    * every money/measure aggregation (see SURVEY §5). */
  def decSum2(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast(DoubleType)
  def decSum6(c: Column): Column = sum(c.cast(DecimalType(18, 6))).cast(DoubleType)
  def decSum2Sql(e: String): String = s"CAST(sum(CAST(($e) AS DECIMAL(18,2))) AS DOUBLE)"
  def decSum6Sql(e: String): String = s"CAST(sum(CAST(($e) AS DECIMAL(18,6))) AS DOUBLE)"

  /** Exact round-half-away-from-zero of the rational num/den at 6
    * decimal places, in PURE BIGINT arithmetic — the engine-portable
    * replacement for `round(<double division>, 6)`, whose
    * shortest-repr (Spark) vs exact-binary (DuckDB) round()
    * semantics diverge on boundary digits (the q65/q66 lesson).
    * Both engines truncate BIGINT division toward zero (verified:
    * DuckDB `-7 // 2 = -3`, Spark `-7 div 2 = -3`), so on absolute
    * values truncation IS floor and
    * `floor((2·|num|·10⁶ + |den|) / (2·|den|))` is the exact
    * half-up magnitude; the sign is reapplied, matching round()'s
    * half-AWAY-from-zero in both engines. The only IEEE op is the
    * final `/ 1e6` of an exact integer — one deterministic
    * round-to-nearest, bit-identical everywhere. NULL den, zero den,
    * or NULL num propagate NULL (guard upstream for explicit CASE
    * semantics). Headroom: |num|·2·10⁶ must fit BIGINT, i.e.
    * |num| < 4.6e12 — percent numerators (Δ·100) at 100 TB weekly
    * grain stay well under. `idiv` is the engine's integer-division
    * token: "div" (Spark) / "//" (DuckDB) — NOT decimal division,
    * which DuckDB silently degrades to DOUBLE. */
  def round6RatioSql(num: String, den: String, idiv: String): String = {
    val q = s"((abs($num) * 2000000 + abs($den)) $idiv (2 * abs($den)))"
    s"(CAST(CASE WHEN (($num) < 0) <> (($den) < 0) THEN -$q ELSE $q END AS DOUBLE) / 1000000.0)"
  }
  def round6RatioSpark(num: String, den: String): String = round6RatioSql(num, den, "div")
  def round6RatioDuck(num: String, den: String): String = round6RatioSql(num, den, "//")

  def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  def normText(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  /** Spark-SQL-string twin of [[normText]] for call sites that build
    * the whole projection as a SQL string (e.g. inside higher-order
    * `transform` lambdas). Lives HERE, beside the Column spelling and
    * the DuckDB spelling ([[normTextSql]]), so a change to the
    * canonical normalization cannot silently miss one of the three. */
  def normTextSparkSql(e: String): String =
    s"lower(trim(regexp_replace($e, '\\\\s+', ' ')))"

  /** Distinct word k-shingles of a token array column (expects >= k tokens). */
  def wordShingles(tokens: Column, k: Int = 3): Column =
    array_distinct(transform(
      sequence(lit(1), size(tokens) - (k - 1)),
      i => concat_ws(" ", (0 until k).map(o => element_at(tokens, i + o)): _*)))

  def minhash(shingles: Column, j: Int): Column =
    array_min(transform(shingles, s => (lit(A(j)) * (h60(s) % P) + lit(B(j))) % P))

  /** Shingle hashes reduced mod P, computed once and shared by all
    * `NumHashes` affine functions (16× less md5 work than hashing
    * inside each minhash). */
  def shingleHashes(shingles: Column): Column =
    transform(shingles, s => h60(s) % P)

  /** Minhash over pre-computed (mod-P) shingle hashes. */
  def minhashOfHashes(hashes: Column, j: Int): Column =
    array_min(transform(hashes, h => (lit(A(j)) * h + lit(B(j))) % P))

  // ---- DuckDB oracle side (same math, same constants) ----
  def h60Sql(e: String): String =
    s"CAST(('0x' || substr(md5($e),1,15)) AS BIGINT)"

  def normTextSql(e: String): String =
    s"lower(trim(regexp_replace($e, '\\s+', ' ', 'g')))"

  def wordShinglesSql(tokens: String, k: Int = 3): String = {
    val parts = (0 until k).map(o => if (o == 0) s"$tokens[i]" else s"$tokens[i+$o]").mkString(" || ' ' || ")
    s"list_distinct(list_transform(range(1, len($tokens) - ${k - 2}), i -> $parts))"
  }

  /** MinHash oracle over a list of h60 hashes (the engine's shingle
    * representation since r5) — values identical to hashing the
    * strings inline, the md5 is just already done. */
  def minhashOfHashesSql(hashes: String, j: Int): String =
    s"list_min(list_transform($hashes, h -> (${A(j)} * (h % $P) + ${B(j)}) % $P))"
}
