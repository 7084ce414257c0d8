package graft.storage

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** Internals of the snapshot-commit protocol: exclusive manifest creation
  * is the optimistic-concurrency seam — two commits that both based their
  * manifests on snapshot N race to create `_snap-N+1`, and the loser must
  * FAIL, not overwrite. (The end-to-end lifecycle runs in CatalogSpec;
  * this spec drives the seam directly because the race window lives inside
  * a single commit() call.)
  */
class CatalogCommitSpec extends AnyFunSuite {

  private def tmpDir() = {
    val d = java.nio.file.Files.createTempDirectory("graft-occ").toFile
    new Path(d.getAbsolutePath)
  }

  test("writeSnapshotAt refuses to overwrite an existing snapshot id") {
    val dir = tmpDir()
    val fs = dir.getFileSystem(new Configuration())
    // writer A (the winner) commits snapshot 1
    GraftCatalog.writeSnapshotAt(fs, dir, 1L, Manifest.empty, Seq("a.parquet"))
    // writer B also based its commit on snapshot 0 and tries snapshot 1
    val ex = intercept[java.io.IOException] {
      GraftCatalog.writeSnapshotAt(fs, dir, 1L, Manifest.empty, Seq("b.parquet"))
    }
    assert(ex.getMessage.contains("concurrent commit"))
    // the winner's manifest is byte-for-byte intact
    assert(GraftCatalog.manifest(fs, dir, 1L).map(_.files).get == Seq("a.parquet"))
  }

  test("writeSnapshot sequences ids and round-trips txn headers") {
    val dir = tmpDir()
    val fs = dir.getFileSystem(new Configuration())
    assert(GraftCatalog.writeSnapshot(fs, dir, Seq("x")) == 1L)
    assert(GraftCatalog.writeSnapshot(fs, dir, Seq("x", "y"),
      Map("app-1" -> 7L, "app-2" -> 0L)) == 2L)
    assert(GraftCatalog.manifest(fs, dir, 2L).map(_.files).get == Seq("x", "y"))
    assert(GraftCatalog.manifest(fs, dir, 2L).get.txns == Map("app-1" -> 7L, "app-2" -> 0L))
    assert(GraftCatalog.manifest(fs, dir, 1L).get.txns == Map.empty)
  }

  test("manifest bytes: a main snapshot with every header kind and a branch " +
    "commit render byte-for-byte, and parse back to the same lines") {
    val dir = tmpDir()
    val fs = dir.getFileSystem(new Configuration())
    // snapshot 1, as raw lines: stats for a.parquet and c.parquet, an add
    // sequence for a.parquet only, one equality and two position deletes
    GraftCatalog.commit(fs, dir, None, 1L, Seq(
      "# kind:append",
      "# stats:Yy5wYXJxdWV0=aWQ|l|0|NQ|OQ",
      "# stats:YS5wYXJxdWV0=dw|s|1|eA|eg;|r|3||;aWQ|l|0|LTI|NA",
      "# add:YS5wYXJxdWV0=1",
      "# eqdel:X2VxZGVsLTEuYmlu=1",
      "# posdel:X3Bvc2RlbC0xLmJpbg:ZC5wYXJxdWV0=1",
      "# posdel:X3Bvc2RlbC0xLmJpbg:YS5wYXJxdWV0=1",
      "# txn:app-1=3",
      "d.parquet", "c.parquet", "a.parquet"))
    // snapshot 2 drops c.parquet, adds b.parquet (no footer: no stats) and
    // one new delete of each kind
    GraftCatalog.writeSnapshotAt(fs, dir, 2L, GraftCatalog.manifest(fs, dir, 1L).get,
      Seq("d.parquet", "b.parquet", "a.parquet"), Map("app-2" -> 0L, "app-1" -> 4L),
      newEqDels = Seq("_eqdel-2.bin"), newPosDels = Seq(("_posdel-2.bin", "b.parquet")),
      kind = GraftCatalog.KindOverwrite)
    GraftCatalog.createRef(fs, dir, "dev", 2L, tag = false)
    GraftCatalog.commitBranch(fs, dir, "dev", 1L, Seq("x.parquet", "b.parquet"),
      Map("app-1" -> 4L))
    def bytes(name: String) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir.toUri.getPath, name)), "UTF-8")
    val main = bytes("_snap-2.manifest")
    val branch = bytes("_bsnap-dev-1.manifest")
    assert(main ==
      "# kind:overwrite\n" +
      "# stats:YS5wYXJxdWV0=|r|3||;aWQ|l|0|LTI|NA;dw|s|1|eA|eg\n" +
      "# add:YS5wYXJxdWV0=1\n# add:Yi5wYXJxdWV0=2\n# add:ZC5wYXJxdWV0=0\n" +
      "# eqdel:X2VxZGVsLTEuYmlu=1\n# eqdel:X2VxZGVsLTIuYmlu=2\n" +
      "# posdel:X3Bvc2RlbC0xLmJpbg:YS5wYXJxdWV0=1\n" +
      "# posdel:X3Bvc2RlbC0xLmJpbg:ZC5wYXJxdWV0=1\n" +
      "# posdel:X3Bvc2RlbC0yLmJpbg:Yi5wYXJxdWV0=2\n" +
      "# txn:app-1=4\n# txn:app-2=0\n" +
      "a.parquet\nb.parquet\nd.parquet\n")
    assert(branch == "# txn:app-1=4\nb.parquet\nx.parquet\n")
    Seq(main, branch).foreach { m =>
      val lines = m.split("\n").toSeq
      assert(Manifest.parse(lines).render == lines)
    }
  }
}
