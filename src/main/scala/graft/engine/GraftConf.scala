package graft.engine

/** The engine's session-conf surface in ONE place — every `spark.graft.*`
  * knob an operator reads, with its default and contract. Operators keep
  * reading the session conf directly (no indirection on the hot path);
  * this registry exists so a user can discover the whole tuning surface
  * and so `GraftConfSpec` can cross-check that each documented name is
  * actually consumed somewhere in `src/main` (a renamed conf without a
  * doc update fails the build, and vice versa).
  */
object GraftConf {

  final case class Knob(key: String, default: String, doc: String)

  val knobs: Seq[Knob] = Seq(
    Knob("spark.graft.shingle.maxDf", "0 (off)",
      "Stop-shingle cap for the inverted-index Jaccard family: shingles " +
        "with document frequency above the cap are dropped from the " +
        "candidate index, bounding every join key at maxDf rows " +
        "(per-key work ≤ maxDf²/2 at any corpus size). 0 = exact/uncapped."),
    Knob("spark.graft.editblock.maxSize", "0 (off)",
      "Skew cap for the prefix-blocked edit-distance dedup: blocks larger " +
        "than the cap are dropped before the in-block Levenshtein verify " +
        "(a boilerplate prefix shared by f docs would put f²/2 verifies " +
        "on one key). 0 = exact/uncapped."),
    Knob("spark.graft.decontam.maxDf", "0 (off)",
      "Stop-shingle cap for benchmark decontamination: shingles with " +
        "TRAIN document frequency above the cap leave the shingle " +
        "universe (n_shingles and n_overlap both count only survivors), " +
        "bounding the df-cap aggregate's hottest key. 0 = exact/uncapped. " +
        "The explicit maxDf parameter overrides the conf when >= 0 is " +
        "passed; pass -1 to defer to the conf."),
    Knob("spark.graft.ann.broadcastMaxBytes", (1L << 30).toString,
      "Ceiling for bruteForceTopKBroadcast's collected index side, " +
        "measured by an aggregate BEFORE collect(); past it the call " +
        "refuses, naming bruteForceTopK/lshTopK/ivfTopK as the routes " +
        "that never collect the index."))
}
