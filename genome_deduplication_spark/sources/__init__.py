"""Sources/sinks: pages input, stage checkpoints, training-shard export."""
