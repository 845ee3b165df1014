package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Tables
import graft.core.Checkpoints.Pins

/** Source-surface gates beyond plain parquet scans: schema evolution
  * across a table's file history and JSONL ingest with quarantined
  * corrupt records — the two file-level realities every long-lived
  * 100 TB corpus has (columns get added over the years; crawls emit
  * broken lines). Fixtures are written Spark-side from table formulas
  * and the oracle replays the formulas on the source table
  * (FORMULA-REPLAY, as the multimodal gates do). */
object SourceQueries {

  /** Old files carry (key, bal); newer files add mktsegment. A
    * mergeSchema read must surface the union schema with nulls for
    * pre-evolution rows — no rewrite of old files. Even keys were
    * written before the column existed, odd after. */
  def qSchemaEvolve(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
    PipelineQueries.withTempIndexDir("graft_evolve_gate_") { path =>
      base.filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey"), col("c_acctbal"))
        .write.mode("overwrite").parquet(path)
      base.filter(col("c_custkey") % 2 === 1)
        .write.mode("append").parquet(path)
      s.read.option("mergeSchema", "true").parquet(path)
        .select(col("c_custkey"), col("c_acctbal"),
          col("c_mktsegment").as("seg"))
        .orderBy(col("c_custkey"))
        .pin // pin before the finally reclaims files
    }
  }

  /** JSONL ingest with PERMISSIVE corrupt-record quarantine: the
    * corpus round-trips through json lines, plus one malformed line
    * per doc_id ≡ 0 (mod 50); parsed rows aggregate, broken lines
    * count into the quarantine — nothing is silently dropped. */
  def qSourceJsonl(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    PipelineQueries.withTempIndexDir("graft_jsonl_gate_") { path =>
      d.write.mode("overwrite").json(path)
      // malformed lines land in the same directory, as a crawler would
      d.filter(col("doc_id") % 50 === 0)
        .select(concat(lit("{\"doc_id\":"), col("doc_id"), lit(",")).as("value"))
        .write.mode("append").text(path)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("source", StringType),
        StructField("n_chars", LongType),
        StructField("_corrupt_record", StringType)))
      val parsed = s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .cache() // Spark disallows corrupt-column-only queries uncached
      val out = parsed.agg(
        count(when(col("_corrupt_record").isNull, 1)).as("n_parsed"),
        count(col("_corrupt_record")).as("n_corrupt"),
        sum(when(col("_corrupt_record").isNull, col("n_chars"))).as("chars_total"))
        .pin
      parsed.unpersist()
      out
    }
  }

  /** Typed JSON extraction from an embedded JSON column (the
    * reference's users stuff semi-structured props into strings; a
    * lake query must parse them relationally). `from_json` with an
    * explicit schema keeps the parse inside whole-stage codegen — one
    * pass, no UDFs; malformed documents surface as NULLs and are
    * COUNTED, never silently dropped. */
  def qJsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .select(col("event_type"),
        from_json(col("props"),
          StructType(Seq(StructField("k", LongType)))).getField("k").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("k_sum"),
        min(col("k")).as("k_min"),
        max(col("k")).as("k_max"),
        count(when(col("k").isNull, 1)).as("n_bad"))
      .orderBy(col("event_type"))

  /** Hive-style partitioned layout + partition pruning: events land as
    * `event_type=<v>/` directories (the standard lake layout for a
    * low-cardinality filter key), and a filtered read must prune at
    * the DIRECTORY level — the gate asserts `PartitionFilters` carries
    * the predicate in the executed plan, so the scan never lists the
    * other partitions' files, then oracle-checks the aggregate. At
    * 100 TB partition pruning is the difference between reading 20 TB
    * and reading one partition. */
  def qPartitionPrune(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("user_id"), col("value"))
    PipelineQueries.withTempIndexDir("graft_part_gate_") { path =>
      ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
      val filtered = s.read.parquet(path)
        .filter(col("event_type") === "click" || col("event_type") === "purchase")
      val plan = filtered.queryExecution.executedPlan.toString
      require(plan.contains("PartitionFilters") &&
          plan.linesIterator.filter(_.contains("PartitionFilters"))
            .mkString.contains("event_type"),
        s"q_partition_prune: predicate did not reach PartitionFilters:\n$plan")
      filtered.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("val_sum"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type"))
        .pin
    }
  }

  /** DYNAMIC partition pruning (the runtime sibling of
    * q_partition_prune's static PartitionFilters): the fact's
    * partition filter is not known at plan time — it comes from a
    * joined dimension's own predicate — so Catalyst injects a
    * `dynamicpruning` subquery that evaluates the dim side first and
    * prunes fact DIRECTORIES at runtime (reusing the join's broadcast,
    * so the dim is read once). At 100 TB this is the star-schema
    * pattern: `fact JOIN dim ON part_key WHERE dim.attr = …` reads
    * only the partitions the dim selects. The gate asserts the
    * injected filter on the physical plan, then oracle-checks the
    * join aggregate. */
  def qDppJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    PipelineQueries.withTempIndexDir("graft_dpp_gate_") { path =>
      ev.write.mode("overwrite").partitionBy("event_type").parquet(s"$path/fact")
      // the dim carries WHICH types are conversions — the fact filter
      // only exists after the dim's predicate is evaluated
      val s2 = s
      import s2.implicits._
      Seq(("click", 1), ("purchase", 1), ("view", 0), ("signup", 0), ("error", 0))
        .toDF("event_type", "is_conversion")
        .write.mode("overwrite").parquet(s"$path/dim")
      val fact = s.read.parquet(s"$path/fact")
      val dim = s.read.parquet(s"$path/dim").filter(col("is_conversion") === 1)
      val j = fact.join(dim, Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("val_sum"))
        .orderBy(col("event_type"))
      val plan = j.queryExecution.executedPlan.toString
      require(plan.contains("dynamicpruning"),
        s"q_dpp_join: no dynamicpruning expression in the fact's PartitionFilters:\n$plan")
      j.pin
    }
  }

  /** CSV ingest round-trip: the documents metadata columns travel
    * through headered CSV and back, then aggregate per source. The
    * gate deliberately ships only FLAT columns — free text with
    * embedded newlines would force multiLine=true, which makes a CSV
    * file non-splittable (one task per file at 100 TB); the engine's
    * stance is that prose belongs in parquet/JSONL, CSV carries
    * metadata. An explicit schema skips the inference scan. */
  def qSourceCsv(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    PipelineQueries.withTempIndexDir("graft_csv_gate_") { path =>
      d.write.mode("overwrite").option("header", "true").csv(path)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("source", StringType), StructField("n_chars", LongType)))
      s.read.schema(schema).option("header", "true").csv(path)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars_total"),
          countDistinct(col("lang")).as("n_langs"))
        .orderBy(col("source"))
        .pin
    }
  }

  /** ORC ingest round-trip: the lineitem measures travel through ORC
    * (the other columnar lake format Spark reads natively) and
    * aggregate to the q1-agg shape. Predicate pushdown and column
    * pruning work on ORC exactly as on parquet — the scan reads two
    * columns, not sixteen. */
  def qSourceOrc(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity"))
    PipelineQueries.withTempIndexDir("graft_orc_gate_") { path =>
      li.write.mode("overwrite").orc(path)
      s.read.orc(path)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
        .pin
    }
  }
}
