"""Sources & sinks: raw JSON landing (bronze), normalized readers, synthetic datagen."""
