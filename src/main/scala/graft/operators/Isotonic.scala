package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Isotonic (monotone) regression of a binary label on a score — the
  * standard calibration map when Platt's sigmoid is too rigid: fit the
  * best non-decreasing step function p̂(score) in L2. The classic
  * solver (PAVA) is a sequential pool-adjacent-violators sweep; this
  * implementation instead evaluates the equivalent MINIMAX
  * characterization
  *
  *   f(i) = max_{j≤i} min_{k≥i} avg(y over levels j..k)
  *
  * which is pure dataflow: prefix sums over the level table, a
  * level² pair table of block averages, one running-min window per j,
  * and a per-level max — no sequential sweep, no driver loop.
  *
  * Scale shape: scores are QUANTIZED to `digits` decimals first, so
  * the level table is ≤ 10^digits·range + 1 rows — corpus-independent
  * (the documented cost knob; 2 digits on a [0,1] score → ≤ 101
  * levels → ≤ 10k pairs, trivially bounded at any corpus size). The
  * corpus itself is touched by ONE map-side-combined groupBy; all
  * label sums are exact longs, block averages are single divisions of
  * exact longs, and min/max are order-free — the fit is
  * partitioning-independent and bit-replayable.
  */
object Isotonic {

  /** Per quantized level: `score`, `n`, `pos`, `iso_p` (the fitted
    * monotone probability, rounded 6). Null score/label rows drop.
    * `digits` ≥ 0 bounds the level count as described above.
    */
  def fit(df: DataFrame, scoreCol: String, labelCol: String,
          digits: Int = 2): DataFrame = {
    require(digits >= 0, s"digits must be >= 0, got $digits")
    // +1e-12 before the quantizing round: Spark rounds the shortest
    // decimal string HALF_UP while other engines round the binary
    // value, and score grids (k/600 etc.) land exactly on 2-digit
    // midpoints — the nudge pushes every true midpoint upward in both
    // conventions so the LEVEL SETS agree across engines
    val lev = df.select(round(col(scoreCol).cast("double") + lit(1e-12), digits).as("__s"),
        col(labelCol).cast("boolean").cast("long").as("__y"))
      .filter(col("__s").isNotNull && col("__y").isNotNull)
      .groupBy(col("__s"))
      .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__p"))
      .localCheckpoint() // the cumsum AND the final join read it
    val cum = RankedStats.withCumulative(lev, Nil, "__s", Seq("__n", "__p"))
      .select(col("__s"), col("__n"), col("__p"),
        col("__cum___n").as("__cn"), col("__cum___p").as("__cp"))
      .localCheckpoint() // both sides of the level-pair join read it
    val lo = cum.select(col("__s").as("__sj"), col("__n").as("__nj"),
      col("__p").as("__pj"), col("__cn").as("__cnj"), col("__cp").as("__cpj"))
    val hi = cum.select(col("__s").as("__sk"), col("__cn").as("__cnk"),
      col("__cp").as("__cpk"))
    // A(j,k) = block average over levels j..k, from exact prefix sums
    val blockAvg = (col("__cpk") - col("__cpj") + col("__pj")).cast("double") /
      (col("__cnk") - col("__cnj") + col("__nj")).cast("double")
    val pairs = lo.join(hi, col("__sj") <= col("__sk"))
      .select(col("__sj"), col("__sk"), blockAvg.as("__a"))
    // M(j,i) = min_{k≥i} A(j,k): running min per j over descending k
    val wMin = Window.partitionBy(col("__sj")).orderBy(col("__sk").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // f(i) = max_{j≤i} M(j,i): every j ≤ i appears at __sk = i
    val fit = pairs.withColumn("__m", min(col("__a")).over(wMin))
      .groupBy(col("__sk").as("__s"))
      .agg(max(col("__m")).as("__iso"))
    lev.join(fit, "__s")
      .select(col("__s").as("score"), col("__n").as("n"), col("__p").as("pos"),
        round(col("__iso") + lit(1e-12), 6).as("iso_p"))
  }
}
