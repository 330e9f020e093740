"""Plan-level utilities: lineage checkpoints for resumable byte-identical
runs (`lineage`), the observed checkpoint every convergence loop stops on
(`fixpoint.checkpoint`), and the Python stage (`stage`: `spread`,
`per_key`, `per_row`)."""
