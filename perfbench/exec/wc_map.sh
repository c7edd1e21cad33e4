#!/bin/sh
# Word-count mapper: split on space, tab, '[' and ']' (empty tokens
# kept), lowercase, emit "token<TAB>1".
tr '[ \t]' '\n' | tr '[:upper:]' '[:lower:]' | awk '{print $1"\t1"}'
