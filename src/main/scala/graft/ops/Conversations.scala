package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}

/** Conversation-structured corpus operators — the instruction-tuning
  * side of a training-data pipeline: chat logs arrive as JSON turn
  * arrays, training needs flat (prompt, response) pairs. Both steps
  * are map-side codegen (from_json + explode + one keyed window for
  * pairing); nothing shuffles except the pairing window's hash on the
  * document key, which any corpus partitioned by doc already
  * satisfies.
  */
object Conversations {

  /** Schema of one chat turn in a JSON conversation column. */
  val turnSchema: ArrayType = ArrayType(StructType(Seq(
    StructField("role", StringType),
    StructField("content", StringType))))

  /** Parse a JSON conversation column and explode to one row per
    * turn: input columns + (turn_idx, role, content). Malformed JSON
    * parses to null and contributes zero turns (posexplode_outer
    * keeps the doc visible with null turn fields — silent drops are
    * unauditable at corpus scale). */
  def extractTurns(df: DataFrame, jsonCol: String): DataFrame =
    df.withColumn("__turns", from_json(col(jsonCol), turnSchema))
      .select(col("*"), posexplode_outer(col("__turns")).as(Seq("turn_idx", "__t")))
      .select(df.columns.map(col) :+ col("turn_idx") :+
        col("__t.role").as("role") :+ col("__t.content").as("content"): _*)

  /** Pair each user turn with the assistant turn that immediately
    * follows it: (keyCol, pair_idx, prompt, response). Turns without
    * a following assistant reply (trailing user turn, consecutive
    * same-role turns) produce no pair. One window over (key, turn
    * order) — state is one row of lookahead. */
  def toPairs(turns: DataFrame, keyCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("turn_idx"))
    turns
      .withColumn("__nrole", lead(col("role"), 1).over(w))
      .withColumn("__ncontent", lead(col("content"), 1).over(w))
      .filter(col("role") === "user" && col("__nrole") === "assistant")
      .select(col(keyCol), (col("turn_idx") / 2).cast("long").as("pair_idx"),
        col("content").as("prompt"), col("__ncontent").as("response"))
  }

  /** Render (prompt, response) pairs into supervised-fine-tuning
    * examples with a RESPONSE-ONLY loss span — the "mask the prompt,
    * train on the completion" example construction:
    *
    *   text       = userTag + prompt + asstTag + response
    *   loss span  = [loss_start, n_tokens): loss_start counts the
    *                tokens of the prefix (userTag+prompt+asstTag),
    *                n_tokens those of the full rendering.
    *
    * Both tags should end in whitespace so the prefix/response token
    * boundary is a split boundary (the defaults do); the span is then
    * exactly the response's tokens. Map-side projection, no shuffle. */
  def sftExamples(pairs: DataFrame, keyCol: String,
                  userTag: String = "user: ",
                  asstTag: String = " assistant: "): DataFrame = {
    val prefix = concat(lit(userTag), col("prompt"), lit(asstTag))
    pairs.select(col(keyCol), col("pair_idx"),
      concat(prefix, col("response")).as("text"),
      TextAnalysis.tokenCount(prefix).cast("long").as("loss_start"))
      .withColumn("n_tokens",
        TextAnalysis.tokenCount(col("text")).cast("long"))
  }

  /** Preference-pair assembly — the DPO/RLHF reward-model example
    * construction: from scored candidate responses per prompt, emit
    * one (chosen, rejected) pair per prompt where chosen is the
    * highest-scoring candidate, rejected the lowest, and the score
    * margin clears `minMargin` (strictly positive always — a pair
    * where chosen isn't actually preferred teaches nothing).
    * Tiebreaks are deterministic: equal scores resolve to the
    * SMALLEST id for chosen and the LARGEST for rejected, so reruns
    * and engines agree bit-for-bit.
    *
    * Scale shape: ONE hash aggregation on the prompt key with
    * map-side partial combine — `max_by`/`min_by` over a
    * (score, −id) struct ordering, no window, no sort, no self-join;
    * shuffle volume is two candidate structs per prompt regardless of
    * candidates per prompt. Output: (promptCol, chosen, rejected,
    * chosen_id, rejected_id, margin, n_candidates). */
  def preferencePairs(df: DataFrame, promptCol: String, responseCol: String,
                      idCol: String, scoreCol: String,
                      minMargin: Long = 1L): DataFrame = {
    require(minMargin >= 1L, "preferencePairs: minMargin must be >= 1 " +
      "(a zero-margin pair has no preference signal)")
    val pick = struct(col(scoreCol), -col(idCol))
    df.groupBy(col(promptCol))
      .agg(
        max_by(struct(col(responseCol).as("resp"), col(idCol).as("id"),
          col(scoreCol).as("score")), pick).as("__c"),
        min_by(struct(col(responseCol).as("resp"), col(idCol).as("id"),
          col(scoreCol).as("score")), pick).as("__r"),
        count(lit(1)).as("n_candidates"))
      .withColumn("margin", col("__c.score") - col("__r.score"))
      .filter(col("margin") >= minMargin)
      .select(col(promptCol), col("__c.resp").as("chosen"),
        col("__r.resp").as("rejected"), col("__c.id").as("chosen_id"),
        col("__r.id").as("rejected_id"), col("margin"), col("n_candidates"))
  }
}
