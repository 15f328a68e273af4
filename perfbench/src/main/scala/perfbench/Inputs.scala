package perfbench

import java.nio.file.{Files, Path}
import graft.fixtures.BioGen
import graft.sources.TableIO
import org.apache.spark.sql.{SaveMode, SparkSession}

/** Seeded inputs, generated once per seed into `<work>/inputs/seed-<n>`
  * before anything is timed. The program under test only ever reads
  * these parquet tables; the base text is the committed sf0.1
  * documents table (`perfbench/data`).
  */
object Inputs {

  /** sf0.1 replicas in kg_flagship's spans corpus. The seed goes into
    * every replica's doc id, so the BioGen biographies and media spans
    * change with it.
    */
  val Replicas = 1

  /** curate_dedup runs on the sf0.1 docs with doc_id below this bound:
    * its op is dominated by many small jobs, so a fuller corpus adds
    * little signal and would not fit the benchmark's time budget.
    */
  val CurateDocs = 600

  /** Share of sf0.1 docs that get a planted near-duplicate twin in
    * curate_dedup, and the share of those twins that get a twin of
    * their own (a chain base -> twin -> chain).
    */
  val TwinShare = 0.10
  val ChainShare = 0.25

  /** Planted ids: twin = base + TwinOffset, chain link = base +
    * ChainOffset, fresh-batch twin = base + BatchOffset.
    */
  val TwinOffset = 1000000L
  val ChainOffset = 2000000L
  val BatchOffset = 3000000L

  /** Size of curate_dedup's fresh batch: edited twins of seed-chosen docs. */
  val BatchDocs = 100

  /** A twin base needs enough tokens that dropping one keeps it a near-duplicate. */
  val MinTwinTokens = 8

  case class Paths(dir: Path) {
    private def p(n: String) = dir.resolve(n).toString
    val spans: String = p("spans")          // TableIO table of Doc rows, Replicas x sf0.1
    val semi: String = p("semi")            // SemiDoc sidecar of sf0.1
    val gold: String = p("gold")            // gold triples for spans + semi
    val curate: String = p("curate")        // (doc_id, text, source): sf0.1 + planted twins
    val twins: String = p("twins")          // (doc_id, base_id) of every planted twin
    val batch: String = p("batch")          // (doc_id, text, base_id): fresh batch
  }

  def dropFirstToken(s: String): String = s.replaceFirst("^\\S+\\s*", "")

  /** Generates the tables for `seed` unless they already exist; the
    * session is only started when they do not.
    */
  def ensure(session: => SparkSession, sf01Docs: String, root: Path, seed: Long): Paths = {
    val dir = root.resolve(s"seed-$seed")
    if (Files.exists(dir.resolve("_DONE"))) return Paths(dir)
    val spark = session
    val tmp = root.resolve(s"seed-$seed.tmp-${ProcessHandle.current().pid()}")
    val out = Paths(tmp)
    import spark.implicits._
    val raw = spark.read.parquet(sf01Docs)
      .select($"doc_id", $"text", $"source")
      .as[(Long, String, String)].collect()

    val semi = raw.toSeq.flatMap { case (id, _, _) => BioGen.semiFor(s"doc$id") }
    val replicaDocs = for { (id, text, _) <- raw.toSeq; r <- 0 until Replicas } yield
      BioGen.generate(s"doc$id#s${seed}r$r", text)
    TableIO.write(spark.createDataset(replicaDocs.map(_._1)).repartition(8).toDF(),
      out.spans, snapshotId = s"seed-$seed")
    spark.createDataset(semi.map(_._1)).coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(out.semi)
    spark.createDataset(replicaDocs.flatMap(_._2) ++ semi.flatMap(_._2)).coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(out.gold)

    // curate_dedup: seed-chosen twins (first token dropped) and chains
    val rnd = new scala.util.Random(seed)
    val curateRaw = raw.toSeq.filter(_._1 < CurateDocs)
    val twinRows = curateRaw.flatMap { case (id, text, source) =>
      val eligible = text != null && text.split("\\s+").length >= MinTwinTokens
      if (eligible && rnd.nextDouble() < TwinShare) {
        val twin = dropFirstToken(text)
        val one = Seq((id + TwinOffset, twin, source, id))
        if (rnd.nextDouble() < ChainShare)
          one :+ ((id + ChainOffset, dropFirstToken(twin), source, id))
        else one
      } else Seq.empty
    }
    (curateRaw ++
      twinRows.map { case (id, t, s, _) => (id, t, s) })
      .toDF("doc_id", "text", "source").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(out.curate)
    twinRows.map { case (id, _, _, base) => (id, base) }.toDF("doc_id", "base_id")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(out.twins)

    // the fresh batch: edited twins of seed-chosen docs, none of them planted above
    val planted = twinRows.map(_._4).toSet
    val batch = rnd.shuffle(curateRaw.filter { case (id, text, _) =>
        !planted.contains(id) && text != null && text.split("\\s+").length >= MinTwinTokens })
      .take(BatchDocs)
      .map { case (id, text, _) => (id + BatchOffset, dropFirstToken(text), id) }
    batch.toDF("doc_id", "text", "base_id").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(out.batch)

    spark.stop()
    Files.writeString(tmp.resolve("_DONE"), "")
    try Files.move(tmp, dir)
    catch { case _: java.nio.file.FileAlreadyExistsException => Util.deleteTree(tmp) }
    Paths(dir)
  }
}
