package graft.sinks

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Fault injection for the concurrent commit path: one of several
  * independent commits fails while the others are still writing. */
class CommitAllSpec extends SparkSpec {

  test("commitAll: one failed commit rethrows its own exception, leaves " +
    "no commit running and no temp dir") {
    val privRoot = java.nio.file.Files
      .createTempDirectory("graft_commit_all_spec").toString
    sys.props.put("graft.artifact.dir", privRoot)
    try {
      // one task per frame, so the failing write has no sibling tasks
      val slow = udf { (i: Long) => Thread.sleep(1000); i }
      val boom = udf { (i: Long) =>
        if (i >= 0) throw new IllegalStateException("injected"); i
      }
      def one = spark.range(0, 1, 1, 1)
      val failing = one.select(boom(col("id")).as("id"))
      val direct = intercept[Throwable](ArtifactStore.commit(failing, "f0"))
      // the failing commit is submitted first and fails while the three
      // slow ones are mid-write
      val pairs = (failing -> "f1") +:
        (1 to 3).map(n => one.select(slow(col("id") + n).as("id")) -> s"s$n")
      val err = intercept[Throwable](ArtifactStore.commitAll(pairs))
      assert(err.getClass == direct.getClass,
        s"caller saw ${err.getClass.getName}, commit throws " +
          direct.getClass.getName)
      val listing = new java.io.File(privRoot).list().toSeq.sorted
      assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty,
        "a commit job was still running after commitAll returned")
      assert(!listing.exists(_.startsWith(".tmp_")),
        s"temp dirs left behind: $listing")
      assert(listing == Seq("s1", "s2", "s3"),
        s"the running commits must finish before the rethrow: $listing")
      Thread.sleep(1500)
      assert(new java.io.File(privRoot).list().toSeq.sorted == listing,
        "the store changed after commitAll returned")
    } finally {
      sys.props.remove("graft.artifact.dir")
    }
  }
}
