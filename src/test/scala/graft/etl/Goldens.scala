package graft.etl

import java.nio.file.{Files, Paths}
import org.scalatest.Assertions.assume

/** The guard every golden-parity test starts with. The reference's golden
  * NDJSON (`FhirEtl.GoldenDir`, `FhirEtl.GtexGoldenDir`) is not part of
  * the checkout: where the directory is absent the test is canceled with
  * the directory named, and wherever it exists the test runs unchanged. */
object Goldens {
  def assumePresent(dir: String): Unit =
    assume(Files.isDirectory(Paths.get(dir)), s"reference goldens absent: $dir")
}
