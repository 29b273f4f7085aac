package perfbench

/** Recorded result digests, one `key<TAB>digest` line each, in
  * `golden/<name>.tsv`. A digest that differs from the recorded one, or has
  * no recorded one, fails the run; with `record` the missing ones are
  * added to the file instead. */
final class Golden(ctx: Ctx, name: String) {
  private val path = s"${ctx.goldenDir}/$name.tsv"
  private val recorded: Map[String, String] =
    if (!new java.io.File(path).exists) Map.empty
    else Files.read(path).split('\n').iterator.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split('\t')).collect { case Array(k, d) => k -> d }.toMap
  private val seen = scala.collection.mutable.LinkedHashMap[String, String]()

  def check(key: String, digest: String, res: WorkloadResult): Unit = {
    seen.get(key).filter(_ != digest).foreach(p =>
      res.fail(s"$key: digest changed within the run, $p then $digest"))
    seen(key) = digest
    recorded.get(key) match {
      case Some(g) if g != digest => res.fail(s"$key: digest $digest, recorded $g")
      case None if !ctx.record => res.fail(s"$key: no recorded digest")
      case _ => ()
    }
  }

  def digests: collection.Map[String, String] = seen

  /** With `record`, write the recorded digests plus the new ones. */
  def save(): Unit = if (ctx.record) {
    val merged = (recorded ++ seen).toSeq.sortBy(_._1)
    Files.write(path, "# key\tdigest (rows:sum-lo32:sum-hi32 of xxhash64 per row)\n" +
      merged.map { case (k, d) => s"$k\t$d" }.mkString("", "\n", "\n"))
  }
}
