package graft

/** End-to-end drive of the SparkSessionExtensions wiring: the engine
  * session (built withExtensions(GraftExtensions)) runs pure-SQL text using the engine's
  * registered functions. Usage: runMain graft.SqlDemo [sfDir] */
object SqlDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Engine.session()
    spark.read.parquet(s"$sfDir/embeddings.parquet").createOrReplaceTempView("embeddings")
    spark.read.parquet(s"$sfDir/documents.parquet").createOrReplaceTempView("documents")
    println("[sql-demo] cosine top-5 via float_dot in SQL:")
    spark.sql("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
      SELECT e.vec_id,
        ROUND(float_dot(e.embedding, q.qe) /
          (SQRT(float_dot(e.embedding, e.embedding)) * SQRT(float_dot(q.qe, q.qe))), 4) AS sim
      FROM embeddings e CROSS JOIN q
      ORDER BY sim DESC, vec_id LIMIT 5""").show()
    println("[sql-demo] simhash64 + minhash_sigs in SQL:")
    spark.sql("""
      SELECT doc_id,
        simhash64(transform(split(text, ' '), w -> xxhash64(w))) AS simhash,
        minhash_sigs(array_distinct(split(text, ' ')), 4)[0] AS minhash0
      FROM documents ORDER BY doc_id LIMIT 5""").show()
    spark.stop()
  }
}
