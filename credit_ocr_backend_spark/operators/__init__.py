"""The Arrow-batched pipeline stage."""
