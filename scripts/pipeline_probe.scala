// Jobs, tasks, codegen compiles and wall per pass over perfbench's ten
// pipeline_ops queries, per query for the last of three passes. A
// spark-shell script; from the repository root, after one perfbench run
// has built perfbench/.bench_build/classpath.txt:
//
//   python3 -c "import sys; sys.path.insert(0, 'perfbench'); import gen; \
//     gen.tables(gen.PIPELINE_CORPUS_SEED, gen.PIPELINE_SF, 'target/probe_tables', \
//     ['events', 'documents'])"
//   PROBE_TABLES=target/probe_tables "$SPARK_HOME"/bin/spark-shell --master 'local[4]' \
//     --driver-memory 3g --driver-class-path "$(cat perfbench/.bench_build/classpath.txt)" \
//     --conf spark.sql.shuffle.partitions=4 --conf spark.sql.adaptive.enabled=true \
//     --conf spark.sql.session.timeZone=UTC --conf spark.ui.enabled=false \
//     -i scripts/pipeline_probe.scala 2>/dev/null | grep '^PROBE'
//
// Add --conf spark.sql.codegen.cache.maxEntries=10000 to see what the
// 100-entry codegen cache costs a pass.
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

val jobs = new AtomicLong
val tasks = new AtomicLong
spark.sparkContext.addSparkListener(new SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
})
def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
val tables = sys.env("PROBE_TABLES")
val queries = Seq("q_dedup_ngram", "q_dedup_cc", "q_split_leakfree", "q_dedup_minhash",
  "q_bpe", "q_classifier", "q_ivm", "q_lm_score", "q_unigram_encode", "q_fuzzy_join")
val perQuery = scala.collection.mutable.Map.empty[String, (Long, Long, Double)]
for (pass <- 1 to 3) {
  val (j0, t0, c0) = (jobs.get, tasks.get, compiles)
  queries.foreach { q =>
    val (jq, cq, tq) = (jobs.get, compiles, System.nanoTime)
    graft.SparkEntry.queries(q)(spark, tables).collect()
    val s = (System.nanoTime - tq) / 1e9
    Thread.sleep(200) // let the listener bus deliver the query's job events
    perQuery(q) = (jobs.get - jq, compiles - cq, s)
  }
  println(f"PROBE pass $pass: jobs ${jobs.get - j0} tasks ${tasks.get - t0} " +
    f"compiles ${compiles - c0} wall ${queries.map(perQuery(_)._3).sum}%.1f s")
}
queries.foreach { q =>
  val (j, c, s) = perQuery(q)
  println(f"PROBE   $q%-18s jobs $j%4d compiles $c%4d $s%.2f s")
}
System.exit(0)
