package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Batch model inference: apply a TRAINED, FROZEN linear model to every row
  * of a corpus — the "score 100 TB with the quality classifier" step that
  * follows every classifier-training loop in an LLM data pipeline
  * (fastText-style quality filters, fineweb-edu-style educational scoring,
  * toxicity gates). Training happens elsewhere at sample scale; what must
  * scale is INFERENCE, and a linear/logistic model distilled from any
  * heavier teacher makes inference a pure Column expression:
  *
  *  - the weights are LITERALS folded into the plan (smaller than a
  *    broadcast — they ship inside the serialized expression tree);
  *  - the logit is one fused multiply-add chain inside whole-stage codegen,
  *    applied at scan speed — zero shuffle, zero state, no UDF;
  *  - thresholding happens on the LOGIT (sigmoid is monotone, so
  *    `sigmoid(x) > t` ⇔ `x > logit(t)`), which keeps the hot path free of
  *    `exp` and the result exactly replayable across engines — transcendental
  *    libm calls are the one place two engines' doubles legitimately drift.
  *
  * Determinism contract: every feature must be derived as integer counts
  * divided once (the [[TextOps]] discipline); then the weighted sum is a
  * fixed-order IEEE-754 chain that any SQL engine replays bit-exactly.
  *
  * No reference analog — pipeline-extension layer.
  */
object Inference {

  /** Fixed-order weighted sum: `((bias + f₁·w₁) + f₂·w₂) + …` — the
    * association order is part of the cross-engine contract (IEEE-754
    * addition is not associative; both engines must fold left).
    */
  def linearLogit(bias: Double, terms: Seq[(Column, Double)]): Column =
    terms.foldLeft(lit(bias): Column) { case (acc, (f, w)) => acc + f * lit(w) }

  /** Decision at sigmoid-probability threshold 0.5 ⇔ logit 0 — no `exp`
    * in the plan. Null features propagate to a null label (score-at-your-
    * own-risk rows surface rather than silently classify).
    */
  def label(logit: Column): Column =
    when(logit.isNull, lit(null).cast("int")).otherwise((logit > 0).cast("int"))

  /** Sigmoid probability for human-facing reports ONLY — `exp` is libm, so
    * this column is NOT cross-engine bit-stable and must stay out of
    * hash-gated outputs (threshold on the logit instead).
    */
  def sigmoid(logit: Column): Column = lit(1.0) / (lit(1.0) + exp(-logit))
}
