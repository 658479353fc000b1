package graft.kernel

/** uDLang recoverable exception (`throw`, README.md:337-342): aborts the
  * current record. The kernel tier's `runEither` and the CLI's dlq mode
  * route the record to the dead-letter leg (TrapType::Exception); any
  * other exception stays fatal (TrapType::Fatal). */
final case class UdException(message: String) extends RuntimeException(message)
