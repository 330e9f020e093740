"""Plan-level utilities: lineage checkpoints for resumable byte-identical
runs (`lineage`), and the observed checkpoint every convergence loop
stops on (`fixpoint.checkpoint`)."""
