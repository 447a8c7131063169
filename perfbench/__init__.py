"""Link-graph benchmark (see README.md)."""
