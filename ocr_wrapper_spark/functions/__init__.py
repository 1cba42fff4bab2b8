"""Column-level helper expressions (pure JVM built-ins)."""
