package perfbench

import java.nio.file.{Files, Paths}

import graft.kg.CorpusGen

/** Expected outputs, pinned as digests in `pins.properties` next to the
  * benchmark so no oracle runs inside a timed run:
  *   - `kg.<scale>`: the ScalarOracle triple set at that scale;
  *   - `ops.<operator>`: the operator's output on the generated ops inputs.
  * `perfbench.Pin` regenerates the file.
  */
object Pins {
  def file: String = sys.props.getOrElse("perfbench.pins", "perfbench/pins.properties")

  private lazy val props: java.util.Properties = {
    val p = new java.util.Properties()
    val in = Files.newInputStream(Paths.get(file))
    try p.load(in) finally in.close()
    p
  }

  def get(key: String): Digest = Option(props.getProperty(key))
    .map(Digest.parse)
    .getOrElse(throw new CheckFailed(s"no pinned digest '$key' in $file"))

  def kg(scale: CorpusGen.Scale): Digest = get(s"kg.${scale.name}")
  def ops(operator: String): Digest = get(s"ops.$operator")
}
