package graft.operators

import graft.{AnnFixtures, SparkSpec}

/** Flavor.Auto's decision procedure (round-18 verdict task 4), tied to
  * the round-17 recall-lane winners per fixture geometry so the choice
  * and the lane analysis cannot drift apart (the e_spectrum_decay
  * discipline, applied to the flavor axis).
  *
  * Two pins:
  *  1. the REJECTION receipt — the going-in spectrum heuristic
  *     (residual dominance x subspace alignment) cannot reproduce the
  *     lane table: clustered, where rotation pays most, has the LOWEST
  *     residual dominance of any fixture (exact seeds leave
  *     near-isotropic residuals), below misaligned/anisotropic where
  *     rotation harms — the separation runs backwards, so any
  *     threshold rule would misfire on one side. Only spanning is
  *     spectrum-detectable. This inversion is asserted so a future
  *     "simplify Auto back to a spectrum rule" change fails loudly.
  *  2. the MEASUREMENT route [[IvfPqIndex.chooseFlavor]] (train both
  *     flavors on the bounded sample, keep the higher measured
  *     recall@3 vs exact-L2 truth) agrees with the lane winner on
  *     every fixture geometry.
  */
class IvfPqAutoFlavorSpec extends SparkSpec {

  // lane winners among the flavors Auto chooses between:
  // clustered 0.5333 opqres vs 0.4667 plain; spanning 0.2000 vs 0.0333;
  // multispan 0.1667 vs 0.1000; misaligned 0.4333 plain vs 0.2667;
  // anisotropic 0.2000 vs 0.1333; isotropic 0.0667 vs 0.0333
  private val expected: Seq[(String, IvfPqIndex.Flavor)] = Seq(
    "isotropic" -> IvfPqIndex.Plain,
    "clustered" -> IvfPqIndex.OpqResidual,
    "misaligned" -> IvfPqIndex.Plain,
    "anisotropic" -> IvfPqIndex.Plain,
    "spanning" -> IvfPqIndex.OpqResidual,
    "multispan" -> IvfPqIndex.OpqResidual)

  private def fixtureDir(name: String): String = {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory(s"auto_flavor_$name").toString
    name match {
      case "isotropic" => return "/root/testdata/sf0.001" // the near-isotropic organic lane
      case "clustered" => AnnFixtures.writeClusteredFixture(s, dir)
      case "misaligned" => AnnFixtures.writeMisalignedFixture(s, dir)
      case "anisotropic" => AnnFixtures.writeAnisotropicFixture(s, dir)
      case "spanning" => AnnFixtures.writeSpanningFixture(s, dir)
      case "multispan" => AnnFixtures.writeMultiSpanningFixture(s, dir)
    }
    dir
  }

  test("rejection receipt: the residual-spectrum heuristic inverts the needed separation") {
    val s = spark
    def spec(name: String) = EmbeddingOps.residualSpectrum(s, fixtureDir(name))
      .getOrElse(fail(s"vacuous — $name fixture lacks model rows"))
    val clustered = spec("clustered")
    val misaligned = spec("misaligned")
    val anisotropic = spec("anisotropic")
    val spanning = spec("spanning")
    info(f"clustered dom=${clustered.dominance}%.4f misaligned dom=${misaligned.dominance}%.4f " +
      f"anisotropic dom=${anisotropic.dominance}%.4f spanning dom=${spanning.dominance}%.4f")
    // the inversion: rotation's best fixture reads LESS dominant than
    // both fixtures rotation harms — no dominance threshold can put
    // clustered on the rotate side without them
    assert(clustered.dominance < misaligned.dominance &&
      clustered.dominance < anisotropic.dominance,
      "the inversion that killed the spectrum rule no longer holds — re-derive Auto")
    // spanning stays the one spectrum-detectable geometry
    assert(spanning.dominance > 0.9)
  }

  test("chooseFlavor (measured route) agrees with the recall-lane winner on every fixture geometry") {
    val s = spark
    val report = expected.map { case (name, want) =>
      (name, want, IvfPqIndex.chooseFlavor(s, fixtureDir(name)))
    }
    val lines = report.map { case (n, want, got) =>
      f"$n%-12s want=${want.name} got=${got.name}"
    }.mkString("\n")
    info("\n" + lines)
    val wrong = report.filter { case (_, want, got) => want != got }
    assert(wrong.isEmpty, s"flavor choice diverged from the lane winners:\n$lines")
  }

  test("Auto resolves before anything persists: the generation records the concrete flavor") {
    val s = spark
    val dir = fixtureDir("clustered")
    val root = java.nio.file.Files.createTempDirectory("auto_flavor_root").toString
    assert(IvfPqIndex.ensure(s, dir, root, flavor = IvfPqIndex.Auto).contains(1L))
    assert(graft.streaming.FsIo.readString(s"$root/g1/flavor").contains("opqres"),
      "an Auto build on clustered geometry must persist the resolved opqres marker")
    // reuse: a second Auto ensure resolves to the same flavor and reuses g1
    assert(IvfPqIndex.ensure(s, dir, root, flavor = IvfPqIndex.Auto).contains(1L))
    assert(IvfPqIndex.currentGeneration(root).contains(1L),
      "same corpus + Auto must fingerprint-match and reuse, not rebuild")
    // and the search result equals an explicit opqres build's
    val auto = IvfPqIndex.query(s, dir, root, nprobe = 2, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val root2 = java.nio.file.Files.createTempDirectory("auto_flavor_root2").toString
    assert(IvfPqIndex.ensure(s, dir, root2, flavor = IvfPqIndex.OpqResidual).contains(1L))
    val explicit = IvfPqIndex.query(s, dir, root2, nprobe = 2, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(auto === explicit)
  }

  test("maintenance autoFlavor: a drift handoff re-chooses the flavor for the refreshed geometry") {
    val s = spark
    val root = java.nio.file.Files.createTempDirectory("auto_flavor_maint").toString
    // built plain on the near-isotropic corpus ...
    assert(IvfPqIndex.ensure(s, "/root/testdata/sf0.001", root).contains(1L))
    graft.streaming.FsIo.writeStringAtomic(s"$root/g1/_drift_alert", "spec: simulated drift")
    // ... then the operator designates a REFRESHED corpus whose geometry
    // is clustered; the policy's autoFlavor lets the handoff re-measure
    val log = IvfPqIndex.maintain(s, root,
      IvfPqIndex.MaintenancePolicy(
        refreshedCorpus = Some(fixtureDir("clustered")), autoFlavor = true))
    assert(log.exists(_.startsWith("handoff")), s"expected a handoff action: $log")
    assert(graft.streaming.FsIo.readString(s"$root/g2/flavor").contains("opqres"),
      "the drift handoff should have re-chosen opqres for the clustered refresh")
  }

  test("a sampled Auto calibration (cap below corpus size) still resolves and builds") {
    val s = spark
    val dir = fixtureDir("clustered") // 500 rows > cap 128
    val flavor = IvfPqIndex.chooseFlavor(s, dir, sampleCap = 128)
    // the sample keeps the model rows, so training runs; the choice is
    // whatever the sampled geometry supports — the pin here is that the
    // bounded path WORKS, not which side it lands on
    assert(flavor == IvfPqIndex.Plain || flavor == IvfPqIndex.OpqResidual)
  }
}
