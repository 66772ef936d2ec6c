package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.util.Random

import graft.compendium._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/** The `forward` workload: the paper's CLI flow (`xml`, `tags`, `runs`,
  * FORWARD until quiescent, `asvs`, `compendium`, `summary`) through
  * `Cli.run` on a seeded synthetic compendium, with fakes for the two
  * external boundaries (NCBI eUtils and the SLURM pipeline launcher).
  *
  * The plan has four admissible projects and three decoy projects. With
  * `maxProjects = 3` the first FORWARD starts three projects, the second
  * advances them and starts the fourth. One of the first three is planned
  * to fail merged-read QC, re-run single-end and then pass; it is chosen
  * to sort by name before the fourth project, so the shape of the flow is
  * the same for every seed.
  */
object Forward {

  val Taxon = "408170"
  val Config: EngineConfig = EngineConfig(maxProjects = 3, eutilsThrottleMs = 0)

  final case class Sample(srs: String, srr: String, project: String,
      strategy: String, source: String, hasSraId: Boolean, hasRun: Boolean) {
    def processable: Boolean = hasSraId && hasRun && strategy == "AMPLICON"
  }
  final case class Asv(label: String, seq: String, ranks: Seq[String])
  /** `role`: save, discard or rerun (re-run single-end, then pass) for
    * admissible projects; small, big or wgs for decoys.
    */
  final case class Project(name: String, role: String, samples: Seq[Sample],
      asvs: Seq[Asv], counts: Map[(String, String), Long]) {
    def srrs: Seq[String] = samples.filter(_.processable).map(_.srr).sorted
    def expectedStatus: String = if (role == "discard") "failed" else "done"
  }
  final case class Plan(projects: Seq[Project]) {
    val samples: Seq[Sample] = projects.flatMap(_.samples)
    val admissible: Seq[Project] = projects.filter(p => Set("save", "discard", "rerun")(p.role))
    val bySrs: Map[String, Sample] = samples.map(s => s.srs -> s).toMap
    val projectOfSrr: Map[String, String] = samples.map(s => s.srr -> s.project).toMap
  }

  private val Ranks = Seq(
    Seq("Bacteria"),
    Seq("Firmicutes", "Bacteroidota", "Proteobacteria", "Actinobacteriota"),
    Seq("Clostridia", "Bacteroidia", "Gammaproteobacteria", "Bacilli"),
    Seq("Oscillospirales", "Bacteroidales", "Lachnospirales", "Enterobacterales"),
    Seq("Ruminococcaceae", "Bacteroidaceae", "Lachnospiraceae", "Enterobacteriaceae"),
    Seq("Faecalibacterium", "Bacteroides", "Blautia", "Escherichia"))

  /** Spark's `abs(xxhash64(project))`, the candidate order of `findTodo`. */
  private def startKey(p: String): Long =
    math.abs(XXH64.hashUTF8String(UTF8String.fromString(p), 42L))

  def generate(seed: Long): Plan = {
    val rnd = new Random(seed)
    var nextSample = 1000000 + rnd.nextInt(1000000)
    def names(n: Int): Seq[String] =
      Iterator.continually(f"PRJNA${100000 + rnd.nextInt(900000)}%d")
        .distinct.take(n).toSeq
    // four admissible projects: three start in the first FORWARD, the
    // fourth in the second; the re-run project sorts before the fourth
    val (order, rerun) = Iterator.continually(names(4).sortBy(p => (startKey(p), p)))
      .map(o => (o, o.take(3).min)).find { case (o, r) => r < o(3) }.get
    val roles = rnd.shuffle(Seq("discard", "save")).iterator ++ Iterator("save")
    val admissible = order.map(p => p -> (if (p == rerun) "rerun" else roles.next()))
    val decoys = names(8).filterNot(order.contains).take(3).zip(Seq("small", "big", "wgs"))

    def sample(project: String, strategy: String = "AMPLICON",
        hasSraId: Boolean = true, hasRun: Boolean = true): Sample = {
      nextSample += 1
      Sample(f"SRS$nextSample%08d", f"SRR$nextSample%08d", project, strategy,
        if (rnd.nextBoolean()) "METAGENOMIC" else "GENOMIC", hasSraId, hasRun)
    }
    def asvs(): Seq[Asv] = (1 to 12 + rnd.nextInt(9)).map { i =>
      // a V3-V4 amplicon cut from the E. coli 16S gene, ~1% substitutions
      val start = 300 + rnd.nextInt(100)
      val end = 720 + rnd.nextInt(80)
      val seq = RegionInference.Whole16s.substring(start, end).toUpperCase.map { c =>
        if (rnd.nextDouble() < 0.01) "ACGT".filter(_ != c)(rnd.nextInt(3)) else c
      }
      Asv(s"ASV_$i", seq, Ranks.map(r => r(rnd.nextInt(r.size))))
    }
    def counts(ss: Seq[Sample], as: Seq[Asv]): Map[(String, String), Long] =
      (for (s <- ss if s.processable; a <- as if rnd.nextBoolean())
        yield (s.srr, a.label) -> (1L + rnd.nextInt(500))).toMap

    val projects = admissible.map { case (p, role) =>
      val ss = Seq.fill(50 + rnd.nextInt(9))(sample(p)) ++
        Seq(sample(p, "WGS"), sample(p, "WGS"), sample(p, hasSraId = false),
          sample(p, hasRun = false))
      val as = asvs()
      Project(p, role, ss, as, counts(ss, as))
    } ++ decoys.map { case (p, role) =>
      val ss = role match {
        case "small" => Seq.fill(30)(sample(p))
        case "big" => Seq.fill(1001)(sample(p))
        case _ => Seq.fill(60)(sample(p, "WGS"))
      }
      Project(p, role, ss, Nil, Map.empty)
    }
    Plan(projects)
  }

  /** The BioSample "Full XML" export the `xml` and `tags` commands read. */
  def biosampleXml(plan: Plan): String = {
    val sb = new StringBuilder("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<BioSampleSet>\n")
    plan.samples.zipWithIndex.foreach { case (s, i) =>
      sb ++= s"""  <BioSample access="public" id="$i">
                |    <Ids>
                |      <Id db="BioSample">SAMN${s.srs.drop(3)}</Id>
                |${if (s.hasSraId) s"""      <Id db="SRA">${s.srs}</Id>\n""" else ""}    </Ids>
                |    <Attributes>
                |      <Attribute attribute_name="geo loc name" harmonized_name="geo_loc_name">USA: Michigan</Attribute>
                |      <Attribute attribute_name="host_age" harmonized_name="host_age">${20 + i % 50}</Attribute>
                |      <Attribute attribute_name="sample type">Stool</Attribute>
                |    </Attributes>
                |  </BioSample>
                |""".stripMargin
    }
    (sb ++= "</BioSampleSet>\n").toString
  }

  /** eUtils fake: answers each batch with efetch XML from the plan. */
  final class PlanEUtils(plan: Plan) extends EUtilsClient {
    var requests = 0L
    var fetchNs = 0L
    def fetch(batch: Seq[String]): String = {
      val t0 = System.nanoTime()
      val body = batch.flatMap(plan.bySrs.get).map { s =>
        val run =
          if (s.hasRun) s"""<RUN accession="${s.srr}" published="2024-01-15 08:00:00" total_bases="123456789"/>"""
          else ""
        s"""  <EXPERIMENT_PACKAGE>
           |    <EXPERIMENT accession="SRX${s.srs.drop(3)}">
           |      <DESIGN><LIBRARY_DESCRIPTOR>
           |        <LIBRARY_STRATEGY>${s.strategy}</LIBRARY_STRATEGY>
           |        <LIBRARY_SOURCE>${s.source}</LIBRARY_SOURCE>
           |      </LIBRARY_DESCRIPTOR></DESIGN>
           |      <PLATFORM><ILLUMINA><INSTRUMENT_MODEL>Illumina MiSeq</INSTRUMENT_MODEL></ILLUMINA></PLATFORM>
           |    </EXPERIMENT>
           |    <SAMPLE accession="${s.srs}">
           |      <IDENTIFIERS><EXTERNAL_ID namespace="BioProject">${s.project}</EXTERNAL_ID></IDENTIFIERS>
           |    </SAMPLE>
           |    <RUN_SET>$run</RUN_SET>
           |  </EXPERIMENT_PACKAGE>
           |""".stripMargin
      }
      requests += 1
      fetchNs += System.nanoTime() - t0
      body.mkString("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<EXPERIMENT_PACKAGE_SET>\n",
        "", "</EXPERIMENT_PACKAGE_SET>\n")
    }
  }

  /** Wraps the real `LocalWorkspace`, counting probes and timing archives. */
  final class CountingWorkspace(ws: ProjectWorkspace) extends ProjectWorkspace {
    var probes = 0L
    var archiveNs = 0L
    var changes = 0L
    def isDone(p: String): Boolean = { probes += 1; ws.isDone(p) }
    def isRunning(p: String): Boolean = { probes += 1; ws.isRunning(p) }
    def projectDir(p: String): String = ws.projectDir(p)
    def summaryPath(p: String): String = ws.summaryPath(p)
    def prepareRerun(p: String): Unit = { changes += 1; ws.prepareRerun(p) }
    def archive(p: String): Unit = {
      val t0 = System.nanoTime()
      try ws.archive(p) finally { archiveNs += System.nanoTime() - t0; changes += 1 }
    }
    def delete(p: String): Unit = { changes += 1; ws.delete(p) }
    def writeAccessionList(p: String, srrs: Seq[String]): Unit = {
      changes += 1; ws.writeAccessionList(p, srrs)
    }
  }

  /** Pipeline fake: `launch` writes the pipeline's outputs at once, with
    * the QC outcome the plan gives the project.
    */
  final class PlanLauncher(plan: Plan, ws: ProjectWorkspace) extends PipelineLauncher {
    var launches = 0L
    private val byName = plan.projects.map(p => p.name -> p).toMap
    def initialize(project: String): Unit = ()
    def launch(project: String, rerunAsSingleEnd: Boolean): Unit = {
      launches += 1
      val p = byName(project)
      val dir = Path.of(ws.projectDir(project))
      Files.createDirectories(dir)
      def write(f: String, s: String): Unit =
        Files.write(dir.resolve(f), s.getBytes(StandardCharsets.UTF_8))
      write("summary.tsv", summary(p, singleEnd = rerunAsSingleEnd, p.name.hashCode))
      write("ASVs.fa", p.asvs.map(a => s">${a.label}\n${a.seq}\n").mkString)
      write("ASVs_counts.tsv", (("" +: p.srrs).mkString("\t") +: p.asvs.map { a =>
        (a.label +: p.srrs.map(s => p.counts.getOrElse((s, a.label), 0L).toString)).mkString("\t")
      }).mkString("", "\n", "\n"))
      write("ASVs_taxonomy.tsv",
        ("\tKingdom\tPhylum\tClass\tOrder\tFamily\tGenus" +: p.asvs.map(a =>
          (a.label +: a.ranks).mkString("\t"))).mkString("", "\n", "\n"))
    }
  }

  /** summary.tsv rows: good samples pass every QC threshold; a discard
    * project has 40% of samples below the retained-read error bound, a
    * re-run project's paired pass has 30% below the merged-read error
    * bound and its single-end pass is clean.
    */
  private def summary(p: Project, singleEnd: Boolean, seed: Int): String = {
    val rnd = new Random(seed)
    val srrs = p.srrs
    val bad = (srrs.size * (p.role match {
      case "discard" => 0.4
      case "rerun" if !singleEnd => 0.3
      case _ => 0.0
    })).ceil.toInt
    val rows = srrs.zipWithIndex.map { case (srr, i) =>
      def j(x: Double) = x * (0.99 + 0.02 * rnd.nextDouble())
      val dinput = 40000 + rnd.nextInt(20000)
      val forwd = (dinput * j(0.94)).toLong
      val length = (dinput * j(0.86)).toLong
      val nonchim = (dinput * (if (i < bad && p.role == "discard") j(0.40) else j(0.84))).toLong
      val merged = (forwd * (if (i < bad && p.role == "rerun") j(0.43) else j(0.94))).toLong
      val cells =
        if (singleEnd) Seq(dinput, (dinput * 0.96).toLong, forwd, length, nonchim)
        else Seq(dinput, (dinput * 0.96).toLong, (dinput * j(0.92)).toLong, forwd,
          merged, length, nonchim)
      (s"${srr}_1.fastq" +: cells.map(_.toString)).mkString("\t")
    }
    val header =
      if (singleEnd) "\tdinput\tfilter\tforwd\tlength\tnonchim"
      else "\tdinput\tfilter\trevse\tforwd\tmerged\tlength\tnonchim"
    (header +: rows).mkString("", "\n", "\n")
  }

  /** Outcome of one pass of the flow. */
  final case class PassOut(ops: Seq[Op], problems: Seq[String],
      layers: Map[String, Double])

  def pass(spark: SparkSession, plan: Plan, xmlPath: String, dir: Path): PassOut = {
    val wh = new Warehouse(spark, dir.resolve("warehouse").toString)
    val ws = new CountingWorkspace(new LocalWorkspace(dir.resolve("projects").toString))
    val launcher = new PlanLauncher(plan, ws)
    val eutils = new PlanEUtils(plan)
    val deps = Management.Deps(wh, ws, launcher, Config)
    val quiet = new java.io.PrintStream(java.io.OutputStream.nullOutputStream())
    def cmd(args: String*): Op = Op.timed(args.head, "compendium") {
      Console.withOut(quiet)(Cli.run(spark, args.toArray, Some(deps), Some(eutils)))
    }
    val ops = Seq.newBuilder[Op]
    ops += cmd("xml", Taxon, xmlPath)
    ops += cmd("tags", Taxon, xmlPath)
    ops += cmd("runs", "5000")
    // FORWARD until a cycle changes nothing in the workspace or launcher
    val cap = 3 * plan.admissible.size
    var cycles = 0
    var progressed = true
    while (progressed && cycles < cap) {
      val before = (ws.changes, launcher.launches)
      ops += cmd("FORWARD")
      cycles += 1
      progressed = (ws.changes, launcher.launches) != before
    }
    ops += cmd("asvs")
    ops += cmd("compendium")
    ops += cmd("summary")
    val result = ops.result()
    val (problems, outcome) = Oracle.check(plan, wh)
    val forward = result.filter(_.name == "FORWARD")
    def secs(names: String*) = result.filter(o => names.contains(o.name)).map(_.wallS).sum
    val terminal = outcome("compendium.projects_done") + outcome("compendium.projects_failed")
    PassOut(result, problems, outcome ++ Map(
      "compendium.xml_s" -> secs("xml"),
      "compendium.tags_s" -> secs("tags"),
      "compendium.runs_s" -> secs("runs"),
      "compendium.forward_s" -> secs("FORWARD"),
      "compendium.asvs_s" -> secs("asvs"),
      "compendium.reports_s" -> secs("compendium", "summary"),
      "compendium.forward_cycles" -> forward.size.toDouble,
      "compendium.forward_failed" -> forward.count(!_.ok).toDouble,
      "compendium.projects_per_min" -> 60.0 * terminal / result.map(_.wallS).sum,
      "compendium.EUtils.requests" -> eutils.requests.toDouble,
      "compendium.EUtils.fetch_s" -> eutils.fetchNs / 1e9,
      "compendium.LocalWorkspace.probes" -> ws.probes.toDouble,
      "compendium.LocalWorkspace.archive_s" -> ws.archiveNs / 1e9,
      "compendium.PipelineLauncher.launches" -> launcher.launches.toDouble))
  }

  /** Checks the final tables against the plan. A project whose status is
    * terminal must match the plan exactly. A project left non-terminal is
    * counted as stuck; rows it left behind must still be rows of its plan.
    */
  object Oracle {
    def check(plan: Plan, wh: Warehouse): (Seq[String], Map[String, Double]) = {
      val problems = Seq.newBuilder[String]
      def expect(ok: Boolean, msg: => String): Unit = if (!ok) problems += msg

      val samples = wh.readOrEmpty("samples", Schemas.samples)
        .select("srs", "srr", "project", "library_strategy").collect()
      val ingested = plan.samples.filter(_.hasSraId)
      expect(samples.length == ingested.size,
        s"samples: ${samples.length} rows, planned ${ingested.size}")
      samples.foreach { r =>
        plan.bySrs.get(r.getString(0)) match {
          case Some(s) if s.hasRun =>
            expect(r.getString(1) == s.srr && r.getString(2) == s.project &&
              r.getString(3) == s.strategy, s"samples: wrong enrichment of ${s.srs}")
          case Some(s) => expect(r.isNullAt(1), s"samples: ${s.srs} has no run but srr ${r.get(1)}")
          case None => problems += s"samples: unplanned ${r.getString(0)}"
        }
      }

      val status = wh.readOrEmpty("status", Schemas.status).select("project", "status")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val counts = wh.readOrEmpty("asv_counts", Schemas.asvCounts)
        .select("sample", "asv", "count").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      // asv_sequences is partitioned by project, which moves that column
      // last on read: select by name
      val seqs = wh.readOrEmpty("asv_sequences", Schemas.asvSequences)
        .select("asv_id", "project", "asv", "seq").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSeq
      val assigned = wh.readOrEmpty("asv_assignments", Schemas.asvAssignments)
        .select(Schemas.asvAssignments.fieldNames.map(org.apache.spark.sql.functions.col): _*)
        .collect()
        .map(r => r.getLong(0) -> (1 to 7).map(r.getString)).toSeq
      val inference = wh.readOrEmpty("asv_inference", Schemas.asvInference)
        .select("project", "region", "length").collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
      val idOf = seqs.map(s => s._1 -> (s._2, s._3)).toMap
      expect(seqs.groupBy(s => (s._2, s._3)).values.forall(_.map(_._1).distinct.size == 1) &&
        idOf.size == seqs.map(s => (s._2, s._3)).distinct.size,
        "asv_sequences: asv_id is not one-to-one with (project, asv)")

      var done, failed, stuck = 0
      plan.projects.foreach { p =>
        val st = status.get(p.name)
        val terminal = st.exists(Set("done", "failed"))
        val pc = counts.filter(c => plan.projectOfSrr.get(c._1).contains(p.name))
        val ps = seqs.filter(_._2 == p.name)
        val pa = assigned.filter(a => idOf.get(a._1).exists(_._1 == p.name))
        val pi = inference.filter(_._1 == p.name)
        val planCounts = p.counts.toSeq.map { case ((s, a), n) => (s, a, n) }
        val planSeqs = p.asvs.map(a => (a.label, a.seq))
        val planAssigned = p.asvs.map(a => (a.label, Config.taxonomyDatabase +: a.ranks))
        val gotAssigned = pa.map(a => (idOf(a._1)._2, a._2))
        val meanLen = planSeqs.map(_._2.length).sum.toDouble / planSeqs.size
        def inferenceOk = pi.forall(i => i._2 == "v3-v4" && math.abs(i._3 - meanLen) < 1e-9)
        if (p.role == "small" || p.role == "big" || p.role == "wgs") {
          expect(st.isEmpty && pc.isEmpty && ps.isEmpty, s"decoy ${p.name} (${p.role}) was admitted")
        } else if (!terminal) {
          stuck += 1
          expect(pc.map(_._3).forall(_ > 0) && pc.map(c => (c._1, c._2, c._3)).toSet.subsetOf(planCounts.toSet) &&
            ps.map(s => (s._3, s._4)).toSet.subsetOf(planSeqs.toSet) &&
            gotAssigned.toSet.subsetOf(planAssigned.toSet) && pi.size <= 1 && inferenceOk,
            s"stuck ${p.name}: rows outside its plan")
        } else {
          expect(st.contains(p.expectedStatus), s"${p.name} (${p.role}): status ${st.get}")
          if (st.contains("done")) {
            def same[A](table: String, got: Seq[A], want: Seq[A]): Unit =
              expect(got.diff(want).isEmpty && want.diff(got).isEmpty,
                s"${p.name}: $table has ${got.diff(want).take(2)}, lacks ${want.diff(got).take(2)}")
            same("asv_counts", pc, planCounts)
            same("asv_sequences", ps.map(s => (s._3, s._4)), planSeqs)
            same("asv_assignments", gotAssigned, planAssigned)
            expect(pi.size == 1 && inferenceOk, s"${p.name}: asv_inference $pi, want v3-v4/$meanLen")
            done += 1
          } else {
            expect(pc.isEmpty && ps.isEmpty && pi.isEmpty, s"${p.name}: discarded but has results")
            failed += 1
          }
        }
      }
      val unplanned = status.keySet -- plan.projects.map(_.name)
      expect(unplanned.isEmpty, s"status: unplanned projects $unplanned")

      val inferred = inference.map(_._1).toSet
      val cells = seqs.filter(s => inferred(s._2))
        .map(_._4.length.toLong * RegionInference.Whole16s.length).sum
      val tables = Seq("samples", "tags", "status", "asv_counts", "asv_sequences",
        "asv_assignments", "asv_inference").filter(wh.exists).map(wh.fileStats)
      (problems.result(), Map(
        "compendium.projects_done" -> done.toDouble,
        "compendium.projects_failed" -> failed.toDouble,
        "compendium.projects_stuck" -> stuck.toDouble,
        "functions.SmithWaterman.cells" -> cells.toDouble,
        "compendium.Warehouse.files_live" -> tables.map(_._1).sum.toDouble,
        "compendium.Warehouse.bytes_live" -> tables.map(_._2).sum.toDouble))
    }
  }
}
