package graft

/** Block lines in the replay format (jsonpickle `py/state` envelope)
  * for the flagship job's specs. */
object ChainLines {

  /** A one-tx block at height h: tx pays `lovelace` to addr, spending
    * output 0 of each tx in `spends`. */
  def block(h: Int, tx: String, spends: Seq[String], addr: String,
            lovelace: Long): String = {
    val inputs = spends.map(s =>
      s"""{"index":0,"transaction":{"id":"$s"}}""").mkString(",")
    s"""{"py/state":{"blocktype":"praos","era":"conway","height":$h,""" +
      s""""id":"b$h","slot":${h * 10},"transactions":[{"id":"$tx",""" +
      s""""inputs":[$inputs],"outputs":[{"address":"$addr",""" +
      s""""datum":null,"value":"{\\"ada\\":{\\"lovelace\\":$lovelace}}"}],""" +
      """"fee":"1"}]}}"""
  }
}
