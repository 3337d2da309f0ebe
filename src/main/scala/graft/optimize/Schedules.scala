package graft.optimize

/** Learning-rate schedules for [[Elbo.optimize]]'s `lrSchedule` hook —
  * pure (global step → lr) functions, so a checkpoint-resumed run
  * (`startStep = t`) continues the exact schedule the uninterrupted
  * run would have used, the same determinism contract as the draw
  * stream. Beyond the reference surface (it trains at constant Adam
  * lr); warmup-then-decay is the standard recipe when the early
  * gradient scale is noisy (amortized encoders, learned ℓ). */
object Schedules {

  /** Linear warmup over `warmup` steps to `peak`, then cosine decay
    * to `floor` at `total` (constant `floor` after). The LLM-training
    * default shape. */
  def warmupCosine(peak: Double, total: Int, warmup: Int = 0,
                   floor: Double = 0.0): Int => Double = {
    require(peak > 0 && total > 0 && warmup >= 0 && warmup < total &&
      floor >= 0 && floor <= peak, s"bad schedule ($peak,$total,$warmup)")
    step =>
      if (step < warmup) peak * (step + 1).toDouble / warmup
      else if (step >= total) floor
      else {
        val t = (step - warmup).toDouble / (total - warmup)
        floor + 0.5 * (peak - floor) * (1.0 + math.cos(math.Pi * t))
      }
  }
}
