package graft

/** Renders the query-registry index README.md carries between the
  * `registry:begin` / `registry:end` markers, from the records of
  * `SparkEntry.registry` (family, entry point, and a status derived
  * from whether the record carries oracle SQL). RegistryDocSpec
  * asserts the README section equals this render, so the index cannot
  * drift from the registry; regenerate with
  * `sbt "runMain graft.RegistryDoc"` after adding a query. */
object RegistryDoc {
  val Begin = "<!-- registry:begin (generated by graft.RegistryDoc — do not edit by hand) -->"
  val End = "<!-- registry:end -->"

  /** The generated markdown: one row per declared query, grouped by
    * family in first-appearance order, names sorted within a family. */
  def table: String = {
    val reg = SparkEntry.registry
    val families = Seq("relational", "temporal-join", "eco-aggregate", "sketch",
      "graph", "parse-generate", "llm-dedup", "llm-similarity", "llm-text",
      "llm-corpus", "multimodal", "sink-layout")
    val missing = reg.map(_.family).toSet -- families.toSet
    require(missing.isEmpty, s"families not in render order: $missing")
    val sb = new StringBuilder
    val nOracle = reg.count(_.oracle.isDefined)
    sb.append(s"${reg.size} declared queries — $nOracle DuckDB-oracle-checked ")
    sb.append(s"(rows+schema+hash at sf0.01), ${reg.size - nOracle} `no_oracle` ")
    sb.append("by design, each pinned by an sbt test (sketch estimates / seeded ")
    sb.append("walks / ANN recall). Every query also serves as a SQL view ")
    sb.append("(`SparkEntry.registerSqlSurface`). The exact oracle SQL each ")
    sb.append("checked query is compared against is generated into ")
    sb.append("[ORACLES.md](ORACLES.md).\n\n")
    sb.append("| query | family | check | entry point |\n|---|---|---|---|\n")
    for (f <- families; q <- reg.sortBy(_.name) if q.family == f) {
      val status = if (q.oracle.isDefined) "oracle" else "test-pinned"
      sb.append(s"| `${q.name}` | $f | $status | `${q.entry}` |\n")
    }
    sb.result()
  }

  /** ORACLES.md: the full oracle-SQL text of every oracle-checked
    * query, grouped like the README index — a reviewer can audit the
    * engine-vs-oracle formulation of any query without opening
    * SparkEntry. Queries without oracle SQL are listed with the
    * sbt test family that pins them instead. Entirely generated;
    * RegistryDocSpec pins it against the registry like the README
    * section. */
  def oracles: String = {
    val sb = new StringBuilder
    sb.append("# Oracle SQL — generated by graft.RegistryDoc, do not edit by hand\n\n")
    sb.append("One section per declared query. `oracle` queries list the exact\n")
    sb.append("ANSI SQL the driver runs in DuckDB against the same parquet tables\n")
    sb.append("(`SparkEntry.registry`); the result is sorted by column NAME and\n")
    sb.append("hash-compared to the Spark output at sf0.01. `no_oracle` queries\n")
    sb.append("(sketch estimates / seeded walks / ANN recall) state the sbt spec\n")
    sb.append("that pins them instead.\n")
    for (q <- SparkEntry.registry.sortBy(_.name)) {
      sb.append(s"\n## `${q.name}` — ${q.family}, `${q.entry}`\n\n")
      q.oracle match {
        case Some(sql) => sb.append("```sql\n").append(sql.trim).append("\n```\n")
        case None => sb.append("`no_oracle` by design — pinned by sbt test ")
          .append("(see the family's spec: LlmSpec / SketchesSpec / ")
          .append("GraphSpec / StreamingSpec).\n")
      }
    }
    sb.result()
  }

  /** Rewrites README.md's generated section and ORACLES.md in place. */
  def main(args: Array[String]): Unit = {
    val root = sys.env.getOrElse("SPARK_GRAFT_REPO_ROOT", ".")
    val path = java.nio.file.Paths.get(root, "README.md")
    val readme = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
    val b = readme.indexOf(Begin); val e = readme.indexOf(End)
    require(b >= 0 && e > b, s"README markers not found in $path")
    val out = readme.substring(0, b + Begin.length) + "\n" + table +
      readme.substring(e)
    java.nio.file.Files.write(path, out.getBytes("UTF-8"))
    val opath = java.nio.file.Paths.get(root, "ORACLES.md")
    java.nio.file.Files.write(opath, oracles.getBytes("UTF-8"))
    println(s"[registrydoc] rewrote ${path.toAbsolutePath} and ${opath.toAbsolutePath} " +
      s"(${SparkEntry.registry.size} queries, ${SparkEntry.registry.count(_.oracle.isDefined)} oracled)")
  }
}
