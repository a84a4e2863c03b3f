SELECT EventId, State
FROM StormEvents
WHERE lower(State) <> lower('texas')
ORDER BY EventId ASC NULLS FIRST
