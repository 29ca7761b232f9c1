package graft.ops

import graft.Pins
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Preference-data operators for RLHF/DPO-style pipelines: turning
  * scored completions and pairwise battles into training pairs and
  * model rankings. All deterministic (tie-breaks are total orders, the
  * fitting loop is fixed-iteration), so backfills and retries are
  * idempotent — the same discipline as [[CorpusOps]].
  */
object Preference {

  /** DPO preference-pair construction: per prompt, (chosen, rejected) =
    * the strictly best- and worst-scored completions. Prompts where the
    * best and worst scores tie are DROPPED — a zero-margin pair teaches
    * the objective nothing and flips sign under resampling; DPO wants
    * chosen != rejected by construction.
    *
    * Deterministic tie-breaks inside a score class: chosen takes the
    * GREATEST completion id at the max score, rejected the LEAST at the
    * min (the two struct-extrema orders); the classes are disjoint
    * because the margin is strict, so chosen != rejected always.
    *
    * ONE narrow aggregate — `max(struct(score, completion))` /
    * `min(struct(...))` per prompt (no window over rows, no join-back);
    * group sizes are completions-per-prompt, sampler-bounded (a
    * generation run emits k completions per prompt, not a corpus).
    *
    * @param scored (prompt, completion, score) rows; nulls in any of
    *               the three drop (an unscored completion can't rank)
    * @return (prompt, chosen_id, chosen_score, rejected_id,
    *         rejected_score, margin, n_completions), margin > 0
    */
  def preferencePairs(scored: DataFrame, promptCol: String,
                      completionCol: String, scoreCol: String): DataFrame = {
    scored
      .filter(col(promptCol).isNotNull && col(completionCol).isNotNull &&
        col(scoreCol).isNotNull)
      .groupBy(col(promptCol).as("prompt"))
      .agg(
        max(struct(col(scoreCol).as("s"), col(completionCol).as("c")))
          .as("_mx"),
        min(struct(col(scoreCol).as("s"), col(completionCol).as("c")))
          .as("_mn"),
        count(lit(1)).as("n_completions"))
      .select(col("prompt"),
        col("_mx.c").as("chosen_id"), col("_mx.s").as("chosen_score"),
        col("_mn.c").as("rejected_id"), col("_mn.s").as("rejected_score"),
        (col("_mx.s") - col("_mn.s")).as("margin"),
        col("n_completions"))
      .filter(col("margin") > 0)
  }

  /** Pairwise win matrix from arena-style battles: one row per
    * UNORDERED model pair with integer win/tie counts — the exact
    * sufficient statistic every downstream ranking (win rate,
    * Bradley–Terry, Elo) consumes, so the expensive battle log is
    * scanned once and the model-pair lattice (|models|^2-bounded)
    * is what iterates.
    *
    * The pair is normalized (model_1 < model_2 lexically) so A-vs-B
    * and B-vs-A battles land in one row. `winner` must be 'a', 'b'
    * or 'tie' (relative to the ORIGINAL column order) — anything else
    * fails fast rather than silently skewing counts. Self-battles
    * (a == b) and null rows drop.
    *
    * @return (model_1, model_2, wins_1, wins_2, ties, n)
    */
  def winMatrix(battles: DataFrame, aCol: String, bCol: String,
                winnerCol: String): DataFrame = {
    val w = col(winnerCol)
    val checked = battles
      .filter(col(aCol).isNotNull && col(bCol).isNotNull && w.isNotNull &&
        col(aCol) =!= col(bCol))
      .withColumn("_w",
        when(w.isin("a", "b", "tie"), w)
          .otherwise(raise_error(concat(
            lit("winMatrix: winner must be 'a'|'b'|'tie', got "), w))))
    val aIsFirst = col(aCol) <= col(bCol)
    def cnt(c: Column): Column = coalesce(sum(when(c, 1L).otherwise(0L)),
      lit(0L))
    checked
      .select(
        least(col(aCol), col(bCol)).as("model_1"),
        greatest(col(aCol), col(bCol)).as("model_2"),
        // winner mapped onto the normalized order
        when(col("_w") === "tie", lit("tie"))
          .when((col("_w") === "a") === aIsFirst, lit("1"))
          .otherwise(lit("2")).as("_who"))
      .groupBy("model_1", "model_2")
      .agg(cnt(col("_who") === "1").as("wins_1"),
        cnt(col("_who") === "2").as("wins_2"),
        cnt(col("_who") === "tie").as("ties"),
        count(lit(1)).as("n"))
  }

  /** Bradley–Terry model strengths from pairwise battles, fit with the
    * classic MM update (Hunter 2004):
    *
    *   p_i <- W_i / sum_j n_ij / (p_i + p_j)
    *
    * where W_i counts i's wins (ties as half a win each — the standard
    * Davidson-lite treatment) and n_ij the games between i and j. A
    * fixed iteration count keeps the run deterministic; strengths are
    * normalized to MEAN 1 each round for identifiability (BT is
    * scale-free — only ratios are meaningful; the 2-player fixed point
    * is p_i/p_j = w_ij/w_ji). A model with zero wins converges to
    * strength 0 (its true MLE boundary); the guard keeps a 0+0
    * denominator from poisoning opponents with NaN.
    *
    * Scale shape: the battle log collapses to [[winMatrix]]'s pair
    * lattice FIRST — one distributed aggregation; the MM loop then runs
    * DRIVER-SIDE over the collected lattice, which is models²-bounded
    * (an arena ranks hundreds of models: thousands of pairs), never
    * corpus-sized — the same boundedness that lets pcaFit collect its
    * d×d moments. `maxPairs` guards the collect. (The first
    * implementation iterated a models-sized DataFrame through
    * localCheckpoint rounds; correct, but each round cost a full Spark
    * job — 8 s for 20 rounds over FIVE models — and the twice-referenced
    * iterate forced stats-reset gymnastics to stop Catalyst from
    * squaring the checkpoint's inherited sizeInBytes estimate into
    * million-digit BigInt products. A bounded lattice does not need a
    * cluster.)
    *
    * `scale = Some(S)` switches the MM fold to FIXED-POINT LONGS
    * (strength in units of 1/S; integer division at every step:
    * per-pair n·S² DIV (p_i+p_j), update wins2·S² DIV (2·D_i),
    * normalization p·k·S DIV total). Integer adds are commutative, so
    * the result is independent of pair order AND replays bit-for-bit
    * as unrolled SQL — the contract-certification seam. Bounds the
    * caller owns: max games-per-pair · S² and k²·S² must stay below
    * 2^63 (S = 1e6 allows ~9e6 games per pair and ~3000 models).
    * Fixed mode emits strength as the scaled LONG; `wins` stays the
    * exact half-win double in both modes.
    *
    * @return (model, strength, wins, games) — strength double (or the
    *         scaled long in fixed mode), wins includes half-ties,
    *         games = battles played
    */
  def bradleyTerry(battles: DataFrame, aCol: String, bCol: String,
                   winnerCol: String, iters: Int = 30,
                   maxPairs: Int = 2000000,
                   scale: Option[Long] = None): DataFrame = {
    require(iters >= 1, s"bradleyTerry: iters >= 1, got $iters")
    scale.foreach(s => require(s > 0, "scale must be positive"))
    val wm = winMatrix(battles, aCol, bCol, winnerCol).localCheckpoint(true)
    val nPairs = wm.count()
    require(nPairs <= maxPairs,
      s"bradleyTerry: $nPairs model pairs exceeds maxPairs=$maxPairs — " +
        "raise the budget only if the driver can hold the lattice")
    // a null model name has no identity to rank — drop the pair rather
    // than NPE in the id sort (winMatrix passes nulls through)
    val pairs = wm.filter(col("model_1").isNotNull &&
        col("model_2").isNotNull)
      .select("model_1", "model_2", "wins_1", "wins_2",
        "ties", "n").collect()
    Pins.release(wm)
    val ids = pairs.flatMap(r => Seq(r.getString(0), r.getString(1)))
      .distinct.sorted
    val idx = ids.zipWithIndex.toMap
    val k = ids.length
    // per-model sufficient statistics: wins2 = 2*wins + ties keeps the
    // half-win exact as an integer (wins2/2.0 is exact in double, so
    // both arithmetic modes publish identical `wins`)
    val wins2 = new Array[Long](k)
    val games = new Array[Long](k)
    val ei = new Array[Int](pairs.length)
    val ej = new Array[Int](pairs.length)
    val en = new Array[Long](pairs.length)
    pairs.zipWithIndex.foreach { case (r, e) =>
      val i = idx(r.getString(0)); val j = idx(r.getString(1))
      val (w1, w2, t, n) = (r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5))
      wins2(i) += 2 * w1 + t; wins2(j) += 2 * w2 + t
      games(i) += n; games(j) += n
      ei(e) = i; ej(e) = j; en(e) = n
    }
    val spark = battles.sparkSession
    import spark.implicits._
    scale match {
      case Some(sc) =>
        // FIXED-POINT MM: the identical recurrence over scaled longs.
        // Loud overflow preconditions first — the DuckDB oracles compute
        // in HUGEINT, so a wrapped Long here would silently diverge from
        // them. Bounds (checked in BigInt so the check itself can't
        // wrap): strengths stay <= 2k·sc (p = wins2·sc²/(2·denom) with
        // denom >= games·sc/(2k) and wins2 <= 2·games, preserved by the
        // mean-1 normalization), so the hot products are bounded by
        // n·sc² (pair term c), games·sc² (denom accumulation, since each
        // c <= en·sc²), 2·games·sc² (the wins2·sc² update), and 2·k²·sc²
        // (normalization p·k·sc and the total accumulator).
        val lmax = BigInt(Long.MaxValue)
        val maxN = if (en.isEmpty) 0L else en.max
        val maxG = if (games.isEmpty) 0L else games.max
        require(BigInt(maxN) * sc * sc <= lmax,
          s"bradleyTerry fixed mode: n*scale^2 overflows Long " +
            s"(max n = $maxN, scale = $sc) — lower the scale")
        require(BigInt(2) * maxG * sc * sc <= lmax,
          s"bradleyTerry fixed mode: 2*games*scale^2 overflows Long " +
            s"(max games = $maxG, scale = $sc) — lower the scale")
        require(BigInt(2) * k * k * sc * sc <= lmax,
          s"bradleyTerry fixed mode: 2*k^2*scale^2 overflows Long " +
            s"(k = $k, scale = $sc) — lower the scale")
        val p = Array.fill(k)(sc) // strength 1.0, scaled
        for (_ <- 1 to iters) {
          val denom = new Array[Long](k)
          var e = 0
          while (e < pairs.length) {
            val s = p(ei(e)) + p(ej(e))
            if (s > 0) {
              val c = en(e) * sc * sc / s
              denom(ei(e)) += c
              denom(ej(e)) += c
            }
            e += 1
          }
          var total = 0L
          var i = 0
          while (i < k) {
            p(i) = if (denom(i) > 0) wins2(i) * sc * sc / (2 * denom(i))
                   else 0L
            total += p(i)
            i += 1
          }
          // mean-1 normalization for identifiability (BT is scale-free)
          if (total > 0) {
            i = 0
            while (i < k) { p(i) = p(i) * k * sc / total; i += 1 }
          }
        }
        ids.indices.map(i => (ids(i), p(i), wins2(i) / 2.0, games(i)))
          .toDF("model", "strength", "wins", "games")
      case None =>
        val p = Array.fill(k)(1.0)
        for (_ <- 1 to iters) {
          val denom = new Array[Double](k)
          var e = 0
          while (e < pairs.length) {
            val s = p(ei(e)) + p(ej(e))
            if (s > 0) {
              denom(ei(e)) += en(e) / s
              denom(ej(e)) += en(e) / s
            }
            e += 1
          }
          var total = 0.0
          var i = 0
          while (i < k) {
            p(i) = if (denom(i) > 0) wins2(i) / 2.0 / denom(i) else 0.0
            total += p(i)
            i += 1
          }
          // mean-1 normalization for identifiability (BT is scale-free)
          if (total > 0) {
            i = 0
            while (i < k) { p(i) *= k / total; i += 1 }
          }
        }
        ids.indices.map(i => (ids(i), p(i), wins2(i) / 2.0, games(i)))
          .toDF("model", "strength", "wins", "games")
    }
  }
}
