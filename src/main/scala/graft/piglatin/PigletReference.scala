package graft.piglatin

/** The piglet reference checkout: its integration scripts, inputs and
  * truth files drive the compatibility specs and the `q_pig_it_*`
  * queries. graft does not ship them, so every reader resolves its path
  * here and fails with one clear message when the checkout is absent.
  */
object PigletReference {
  val Root = "/root/reference"

  /** `rel` under the checkout. */
  def apply(rel: String): String = {
    if (!new java.io.File(Root).isDirectory)
      throw new IllegalStateException(
        s"piglet reference checkout not found at $Root; see ROADMAP item 10")
    s"$Root/$rel"
  }
}
