"""Oracle-checked benchmark of the KG job, serving and near-dup workloads (see NOTES.md)."""
